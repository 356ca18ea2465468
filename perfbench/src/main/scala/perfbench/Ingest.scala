package perfbench

import graft.Graft
import org.apache.spark.sql.functions.col
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** `ingest`: the reference's write path. Each op is one `Graft.collect`
  * through a new NYC adapter fed [[Ingest.Batch]] generated items, half
  * of them keys offered in earlier rounds, into one growing catalog —
  * the anti-join, the partitioned append and one new file set per round.
  * Set-up runs the `setup` verb and a first all-new collect.
  */
final class Ingest(ctx: Ctx) extends Workload(ctx) {
  import Ingest._
  import ctx._

  private var gen: Gen = _
  private var g: Graft = _
  private var dir: String = _
  private val offeredKeys = ArrayBuffer.empty[Array[Int]]

  def catalogDir: String = dir
  def catalogRows: Long = gen.issuedKeys.toLong
  def mix: Map[String, Double] = Map("collect" -> 1.0)
  def writeOp: String = "collect"

  def setUp(i: Int): Boolean = {
    dir = freshDir(s"ingest-$i")
    gen = new Gen(seed)
    g = new Graft(spark, dir)
    round = 0
    offeredKeys.clear()
    g.setup(Seq(adapter(0)))
    val first = gen.nextRound(Batch, 0)
    offeredKeys += first.items.map(_.key).toArray
    check(s"set-up collect adds ${first.expectedNew}",
      collect(None, g, first) == first.expectedNew)
  }

  def next(i: Int): Op = {
    val r = gen.nextRound(Batch / 2, Batch / 2)
    offeredKeys += r.items.map(_.key).toArray
    Op("collect")(h => collect(Some(h), g, r))(n =>
      check(s"round $round adds ${r.expectedNew}, got $n",
        n == r.expectedNew))
  }

  /** The driver-side collect path (JSON parse, mapping, encoding,
    * planning) keeps getting faster for the first rounds after set-up;
    * these untimed rounds let the timed ones start warm.
    */
  override def warmUp: Iterator[Op] = Iterator.tabulate(WarmRounds)(next)

  def finalChecks(h: Harness): Boolean = {
    val rows = g.records.count()
    val dups = g.records.groupBy(col("source_name"), col("record_id"))
      .count().filter(col("count") > 1).count()
    val past = offeredKeys(new Random(Gen.mix(seed, 7)).nextInt(offeredKeys.size))
    val again = collect(None, g, Round(past.toSeq.map(gen.item), 0))
    Seq(
      check(s"row count ${gen.issuedKeys}, got $rows", rows == gen.issuedKeys),
      check(s"(source_name, record_id) unique, $dups duplicated", dups == 0),
      check(s"re-collecting a past batch adds 0, got $again", again == 0))
      .forall(identity)
  }
}

object Ingest {
  /** Items offered per collect round. */
  val Batch = 1000
  val WarmRounds = 8
}
