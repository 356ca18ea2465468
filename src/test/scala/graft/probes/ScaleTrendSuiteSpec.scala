package graft
package probes

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** [[ScaleTrendSuite.run]], the query-timing loop, on the smoke data. */
class ScaleTrendSuiteSpec extends SparkSpec {
  val Queries = Seq("a1_source_stats", "q3_top_revenue_orders")
  val Reps = 2

  def lines(dirs: Seq[String], names: Seq[String]): Seq[JsonNode] = {
    val out = Seq.newBuilder[String]
    ScaleTrendSuite.run(spark, dirs, names, Reps, out += _)
    val mapper = new ObjectMapper()
    out.result().map(l => mapper.readTree(l))
  }

  def ints(n: JsonNode): Seq[Long] = n.elements().asScala.map(_.asLong).toSeq

  /** The same directory passed twice: two arms that must stay apart. */
  lazy val twice: Seq[JsonNode] = lines(Seq(sfSmoke, sfSmoke), Queries)

  test("each directory arm holds exactly reps times, same directory twice") {
    assert(twice.head.has("calib_sec"))
    val byQuery = twice.filter(_.has("query"))
    assert(byQuery.map(_.get("query").asText) == Queries, twice)
    byQuery.foreach { q =>
      val arms = q.get("arms").elements().asScala.toSeq
      assert(arms.size == 2, q)
      arms.foreach { a =>
        assert(a.get("dir").asText == sfSmoke)
        assert(a.get("all").size == Reps && a.get("njobs").size == Reps &&
          a.get("gap_ms").size == Reps, a)
        assert(a.get("sec").asDouble ==
          a.get("all").elements().asScala.map(_.asDouble).min)
      }
    }
  }

  test("every rep reports njobs >= 1 and gap >= 0") {
    val arms = twice.filter(_.has("arms"))
      .flatMap(_.get("arms").elements().asScala)
    assert(arms.size == 2 * Queries.size)
    arms.foreach { a =>
      assert(ints(a.get("njobs")).forall(_ >= 1), a)
      assert(ints(a.get("gap_ms")).forall(_ >= 0), a)
    }
  }

  test("an unknown query name fails the require") {
    val e = intercept[IllegalArgumentException](
      ScaleTrendSuite.run(spark, Seq(sfSmoke), Seq("a1_source_stats",
        "no_such_query"), 1, _ => ()))
    assert(e.getMessage.contains("no_such_query"))
  }

  test("a query whose closure throws gives error lines, not a silent drop") {
    val missing = tmpDir("scaletrend") + "/no_such_sf"
    val out = lines(Seq(sfSmoke, missing), Seq("a1_source_stats"))
    val errors = out.filter(_.has("error"))
    assert(errors.map(_.get("rep").asText) == Seq("warm", "1", "2"), out)
    errors.foreach { e =>
      assert(e.get("arm").asInt == 1 && e.get("dir").asText == missing)
      assert(e.get("error").asText.nonEmpty)
    }
    val last = out.last
    assert(last.get("query").asText == "a1_source_stats")
    assert(ints(last.get("empty_arms")) == Seq(1L), out)
  }
}
