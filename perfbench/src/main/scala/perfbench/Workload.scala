package perfbench

import graft.Graft
import graft.ingest.NycOpenDataAdapter
import java.nio.file.{Files, Path, Paths}
import java.time.{Clock, Instant, ZoneOffset}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** What a workload run needs from the command line; `tables` is the
  * directory of seeded registry tables, one copy per set-up.
  */
final case class Ctx(spark: SparkSession, seed: Long, workDir: String,
    tables: Option[String], tracer: Option[Tracer], log: String => Unit)

/** A workload: a set-up that builds its state from the seed (repeated
  * to time it), an op stream run closed-loop by the [[Harness]], and
  * end-of-run checks. Each collect round runs at its own fixed clock
  * instant, so `ingested_at` is a pure function of the round number.
  */
abstract class Workload(val ctx: Ctx) {
  import ctx._

  /** Build the workload's state into a fresh catalog directory; false
    * when an output check of the set-up fails.
    */
  def setUp(i: Int): Boolean
  def next(i: Int): Op
  /** Nominal share of each op name in the op stream, which comes in
    * decks of `mix.size` ops holding every name once.
    */
  def mix: Map[String, Double]
  /** The op name that writes to the catalog. */
  def writeOp: String
  /** Untimed ops run between set-up and the timed loop, built one at a
    * time (building an op may change the expected state).
    */
  def warmUp: Iterator[Op] = Iterator.empty
  /** End-of-run output checks (outside any timed interval). */
  def finalChecks(h: Harness): Boolean
  /** Rows the catalog holds at the end of the run. */
  def catalogRows: Long
  def catalogDir: String

  val fetcher = new BenchFetcher(tracer)
  protected var round = 0
  /** Records offered to, and new records reported by, timed collects. */
  var offeredInLoop = 0L
  var newInLoop = 0L

  protected def adapter(r: Int): NycOpenDataAdapter =
    new NycOpenDataAdapter(fetcher, None,
      Clock.fixed(Workload.Epoch.plusSeconds(r.toLong), ZoneOffset.UTC))

  /** One collect of a round's payload as a new CLI invocation would
    * run it; timed (inside an op) when `h` is given.
    */
  protected def collect(h: Option[Harness], g: Graft, r: Round): Long = {
    round += 1
    fetcher.payload = r.payload
    val a = adapter(round)
    h match {
      case None => g.collect(Seq(a))
      case Some(h) =>
        val n = h.verb("collect")(g.collect(Seq(a)))
        offeredInLoop += r.items.size
        newInLoop += n
        n
    }
  }

  protected def freshDir(name: String): String = {
    val p = Paths.get(workDir, name)
    Workload.deleteTree(p)
    p.toString
  }

  /** (parquet files, bytes) of the records table. */
  def catalogFiles: (Long, Long) = {
    val root = Paths.get(catalogDir, "data_records")
    val files = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .toSeq
    (files.size.toLong, files.map(Files.size).sum)
  }

  protected def check(what: String, ok: Boolean): Boolean = {
    if (!ok) log(s"check failed: $what")
    ok
  }
}

object Workload {
  val Epoch: Instant = Instant.parse("2026-01-01T00:00:00Z")

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq.reverse
    all.foreach(Files.delete)
  }
}
