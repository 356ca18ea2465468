package graft

import graft.FixtureCache.FileStamp
import org.apache.hadoop.fs.Path

/** [[Lineage.maintain]], the one rule behind the FTS index, the
  * materialized views and the key index, over both record stores: the
  * directory record the FTS index and the views keep, and the record
  * the key index holds in memory. Each case runs the rule with `extend`
  * and `rebuild` fakes that record their calls, over listings of
  * made-up input stamps.
  */
class LineageSpec extends SparkSpec {

  private def file(name: String, size: Long = 10L, mtime: Long = 1000L)
      : FileStamp = (s"/source_name=a/part-$name.parquet", size, mtime)

  private val Seq(a, b, c, d) = Seq("a", "b", "c", "d").map(file(_))

  /** A store under test, counting its record writes. */
  private final class Counting(inner: Lineage.Store) extends Lineage.Store {
    var writes = 0
    def read(): Option[Lineage] = inner.read()
    def outputs: Seq[FileStamp] = inner.outputs
    def write(covered: Seq[FileStamp]): Unit = { writes += 1; inner.write(covered) }
    def drop(): Unit = inner.drop()
  }

  /** One store and the calls the rule made to the fakes. `dir` is the
    * artifact's directory, for a directory store.
    */
  private final class Run(val store: Counting, val dir: Option[String]) {
    var extended = Seq.empty[Seq[FileStamp]]
    var rebuilds = 0

    /** Apply the rule to `listed`; the rebuild reports it read `read`,
      * by default exactly the listed files.
      */
    def maintain(listed: Seq[FileStamp], read: Option[Set[String]] = None,
        extend: Boolean = true): Unit =
      Lineage.maintain(listed, store,
        Option.when(extend)((files: Seq[FileStamp]) => extended :+= files),
        () => {
          rebuilds += 1
          read.getOrElse(listed.map(_._1).toSet)
        })

    def calls: (Seq[Seq[FileStamp]], Int) = (extended, rebuilds)
  }

  private val stores: Seq[(String, () => Run)] = Seq(
    "dir" -> { () =>
      val dir = tmpDir("lineage")
      new Run(new Counting(new Lineage.Dir(spark, dir)), Some(dir))
    },
    "memory" -> (() => new Run(new Counting(new Lineage.Held(None)), None)))

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rewriteRecord(dir: String)(tear: Array[Byte] => Array[Byte]): Unit = {
    val record = new Path(dir, "_graft_lineage")
    val in = fs.open(record)
    val bytes = try in.readAllBytes() finally in.close()
    val out = fs.create(record, true)
    try out.write(tear(bytes)) finally out.close()
  }

  /** (name, directory store only, case). */
  private val cases: Seq[(String, Boolean, Run => Unit)] = Seq(
    ("no record: rebuild, recorded", false, { r =>
      r.maintain(Seq(a, b))
      assert(r.calls == ((Nil, 1)))
      assert(r.store.writes == 1)
      assert(r.store.current(Seq(a, b)).map(_.covered) == Some(Seq(a, b)))
    }),
    ("valid, nothing uncovered: neither call and no record write", false, { r =>
      r.maintain(Seq(a, b))
      r.maintain(Seq(a, b))
      r.maintain(Seq(b, a))
      assert(r.calls == ((Nil, 1)))
      assert(r.store.writes == 1)
    }),
    ("valid with an append: extend gets exactly the appended stamps", false, { r =>
      r.maintain(Seq(a, b))
      // c and d carry the covered files' mtime, as a write in the same
      // clock tick does
      r.maintain(Seq(a, b, c, d))
      assert(r.calls == ((Seq(Seq(c, d)), 1)))
      assert(r.store.current(Seq(a, b, c, d)).map(_.covered) ==
        Some(Seq(a, b, c, d)))
      r.maintain(Seq(a, b, c, d))
      assert(r.calls == ((Seq(Seq(c, d)), 1)))
    }),
    ("with no extend, an append rebuilds", false, { r =>
      r.maintain(Seq(a, b), extend = false)
      r.maintain(Seq(a, b), extend = false)
      r.maintain(Seq(a, b, c), extend = false)
      assert(r.calls == ((Nil, 2)))
      assert(r.store.current(Seq(a, b, c)).map(_.covered) == Some(Seq(a, b, c)))
    }),
    ("a covered file deleted: rebuild", false, { r =>
      r.maintain(Seq(a, b))
      r.maintain(Seq(b, c))
      assert(r.calls == ((Nil, 2)))
      r.maintain(Seq(b, c))
      assert(r.calls == ((Nil, 2)))
    }),
    ("a covered file rewritten with a new size: rebuild", false, { r =>
      r.maintain(Seq(a, b))
      r.maintain(Seq(a, file("b", size = 11L)))
      assert(r.calls == ((Nil, 2)))
    }),
    ("a covered file rewritten with a new mtime: rebuild", false, { r =>
      r.maintain(Seq(a, b))
      r.maintain(Seq(a, file("b", mtime = 1001L), c))
      assert(r.calls == ((Nil, 2)))
    }),
    ("a rebuild that read one file more than the listing leaves no valid " +
        "record, so the next call rebuilds", false, { r =>
      r.maintain(Seq(a, b), read = Some(Set(a, b, c).map(_._1)))
      assert(r.store.current(Seq(a, b)).isEmpty)
      assert(r.store.current(Seq(a, b, c)).isEmpty)
      r.maintain(Seq(a, b, c))
      assert(r.calls == ((Nil, 2)))
      // and after a valid record, a raced rebuild drops it
      r.maintain(Seq(b, c), read = Some(Set(b, c, d).map(_._1)))
      r.maintain(Seq(b, c, d))
      assert(r.calls == ((Nil, 4)))
    }),
    ("changed output files: rebuild", true, { r =>
      r.maintain(Seq(a, b))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(r.dir.get, "part-00000.parquet"), Array[Byte](1))
      r.maintain(Seq(a, b))
      assert(r.calls == ((Nil, 2)))
      // the record the rebuild wrote has the new outputs
      r.maintain(Seq(a, b))
      assert(r.calls == ((Nil, 2)))
    }),
    ("an empty record is torn: rebuild", true, { r =>
      r.maintain(Seq(a, b))
      rewriteRecord(r.dir.get)(_ => Array.emptyByteArray)
      r.maintain(Seq(a, b))
      assert(r.calls == ((Nil, 2)))
    }),
    ("a record cut mid-line is torn: rebuild", true, { r =>
      r.maintain(Seq(a, b, c))
      rewriteRecord(r.dir.get)(bytes =>
        bytes.take(bytes.lastIndexOf('\n'.toByte, bytes.length - 2) - 5))
      r.maintain(Seq(a, b, c))
      assert(r.calls == ((Nil, 2)))
    }),
    ("a record reads as none unless the store is usable, and a raced " +
        "rebuild there leaves none", true, { r =>
      r.maintain(Seq(a, b))
      val unusable = new Lineage.Dir(spark, r.dir.get, usable = false)
      assert(unusable.read().isEmpty && r.store.read().nonEmpty)
      var rebuilds = 0
      Lineage.maintain(Seq(a, b), unusable, None, () => {
        rebuilds += 1
        Set(a, b, c).map(_._1)
      })
      assert(rebuilds == 1 && r.store.read().isEmpty)
    }))

  for ((name, dirOnly, run) <- cases; (kind, make) <- stores
      if !dirOnly || kind == "dir")
    test(s"maintain, $kind store: $name")(run(make()))

  test("maintain, memory store: a record covering no file, the key " +
      "index's start, extends by every listed file") {
    val r = new Run(new Counting(new Lineage.Held(Some(Lineage(Nil, Nil)))),
      None)
    r.maintain(Nil)
    r.maintain(Seq(a, b))
    assert(r.calls == ((Seq(Seq(a, b)), 0)))
  }

  for ((kind, make) <- stores)
    test(s"cover, $kind store: extends and covers a write only over a " +
        "record valid for the listing before it") {
      val r = make()
      var extended = 0
      r.maintain(Seq(a))
      Lineage.cover(Seq(a), Seq(b), r.store)(extended += 1)
      assert(extended == 1)
      assert(r.store.current(Seq(a, b)).map(_.covered) == Some(Seq(a, b)))
      // a listing that lacks a covered file: no extend and no write,
      // the next maintain decides
      Lineage.cover(Seq(b, c), Seq(d), r.store)(extended += 1)
      assert(extended == 1 && r.store.writes == 2)
      r.maintain(Seq(a, b, c))
      assert(r.calls == ((Seq(Seq(c)), 1)))
    }
}
