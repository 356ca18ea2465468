package graft

import org.apache.spark.sql.functions._

class VersionedSpec extends SparkSpec {

  private def docs(ids: Seq[Long], chars: Long => Long) = {
    import spark.implicits._
    ids.map(i => (i, s"src_${i % 3}", chars(i)))
      .toDF("doc_id", "source", "n_chars")
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "source", "n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet

  test("init creates v0; merge upserts, carries, inserts; commit bumps") {
    val t = tmpDir("versioned") + "/t"
    val base = docs(Seq(1L, 2L, 3L), _ => 100L)
    assert(Versioned.init(base, t) == 0)
    assert(Versioned.currentVersion(spark, t).contains(0))
    // 2 updates (larger n_chars), 4 inserts; 1 and 3 carry over
    val src = docs(Seq(2L, 4L), _ => 999L)
    assert(Versioned.mergeUpsert(src, t, Seq("doc_id")) == 1)
    assert(rows(Versioned.current(spark, t)) == Set(
      (1L, "src_1", 100L), (2L, "src_2", 999L),
      (3L, "src_0", 100L), (4L, "src_1", 999L)))
  }

  test("listDataFiles equals a recursive listFiles walk, per version") {
    val t = tmpDir("versioned") + "/t"
    val part = Seq("source")
    Versioned.init(docs(Seq(1L, 2L, 3L), _ => 10L), t, partitionCols = part)
    Versioned.mergeUpsert(docs(Seq(2L, 4L), _ => 20L), t, Seq("doc_id"),
      partitionCols = part)
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prefix = new org.apache.hadoop.fs.Path(t).toUri.getPath + "/"
    val versions = Versioned.versions(spark, t)
    assert(versions.size >= 2)
    versions.foreach { v =>
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$t/v=$v"), true)
      val walked = Iterator.continually(it).takeWhile(_.hasNext)
        .map(_.next()).filter(_.getPath.getName.startsWith("part-"))
        .map(_.getPath.toUri.getPath.stripPrefix(prefix)).toList.sorted
      assert(walked.nonEmpty && walked.forall(_.contains("/source=")))
      assert(Versioned.listDataFiles(spark, t, v) == walked)
    }
    assert(Versioned.listDataFiles(spark, t, versions.max + 1).isEmpty)
  }

  test("time travel: v0 is immutable across merges; history lists all") {
    val t = tmpDir("versioned") + "/t"
    Versioned.init(docs(Seq(1L, 2L), _ => 10L), t)
    Versioned.mergeUpsert(docs(Seq(2L, 3L), _ => 20L), t, Seq("doc_id"))
    Versioned.mergeUpsert(docs(Seq(9L), _ => 30L), t, Seq("doc_id"))
    assert(rows(Versioned.snapshot(spark, t, 0)) ==
      Set((1L, "src_1", 10L), (2L, "src_2", 10L)))
    assert(Versioned.versions(spark, t) == Seq(0, 1, 2))
    val h = Versioned.history(spark, t)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(h == Seq((0, 2L), (1, 3L), (2, 4L)))
  }

  test("re-merging the same source is idempotent on content") {
    val t = tmpDir("versioned") + "/t"
    Versioned.init(docs(Seq(1L, 2L, 3L), _ => 5L), t)
    val src = docs(Seq(2L, 7L), _ => 50L)
    Versioned.mergeUpsert(src, t, Seq("doc_id"))
    val once = rows(Versioned.current(spark, t))
    Versioned.mergeUpsert(src, t, Seq("doc_id"))
    assert(rows(Versioned.current(spark, t)) == once)
    assert(Versioned.currentVersion(spark, t).contains(2))
  }

  test("deleteFlag removes matches and inserts nothing for them") {
    val t = tmpDir("versioned") + "/t"
    Versioned.init(docs(Seq(1L, 2L, 3L), _ => 5L), t)
    val src = docs(Seq(2L, 3L, 8L), i => i * 10)
      .withColumn("__del", col("doc_id") === 3L)
    Versioned.mergeUpsert(src, t, Seq("doc_id"),
      deleteFlag = Some("__del"))
    assert(rows(Versioned.current(spark, t)) == Set(
      (1L, "src_1", 5L), (2L, "src_2", 20L), (8L, "src_2", 80L)))
  }

  test("vacuum drops old snapshots, keeps the manifest target") {
    val t = tmpDir("versioned") + "/t"
    Versioned.init(docs(Seq(1L), _ => 1L), t)
    Versioned.mergeUpsert(docs(Seq(2L), _ => 2L), t, Seq("doc_id"))
    Versioned.mergeUpsert(docs(Seq(3L), _ => 3L), t, Seq("doc_id"))
    Versioned.vacuum(spark, t, keepLast = 1)
    assert(Versioned.versions(spark, t) == Seq(2))
    assert(Versioned.current(spark, t).count() == 3)
  }

  test("restore: metadata-only rollback; history and future intact") {
    val t = tmpDir("versioned") + "/t"
    Versioned.init(docs(Seq(1L, 2L), _ => 100L), t)
    Versioned.mergeUpsert(docs(Seq(2L, 3L), _ => 999L), t,
      Seq("doc_id"))
    val v0 = rows(Versioned.snapshot(spark, t, 0))
    assert(Versioned.restore(spark, t, 0) == 2)
    // current content is v0's again; the rolled-back v1 still travels
    assert(rows(Versioned.current(spark, t)) == v0)
    assert(rows(Versioned.snapshot(spark, t, 1)) !=
      v0)
    assert(Versioned.versions(spark, t) == Seq(0, 1, 2))
    // metadata-only: no data directory was written for v2
    assert(!new java.io.File(s"$t/v=2").exists())
    // and the table keeps evolving normally after a restore
    Versioned.mergeUpsert(docs(Seq(4L), _ => 4L), t, Seq("doc_id"))
    assert(rows(Versioned.current(spark, t))
      .map(_._1) == Set(1L, 2L, 4L))
    assert(!Versioned.current(spark, t).collect()
      .exists(_.getLong(2) == 999L))
  }

  test("racing committers of the same version: one wins, loser fails fast") {
    val t = tmpDir("versioned") + "/t"
    Versioned.init(docs(Seq(1L, 2L), _ => 1L), t)
    // The exact interleaving the delete-then-rename protocol lost:
    // two writers both observed v0 and both try to commit v1. The
    // marker create (overwrite=false) lets exactly one through; the
    // second MUST fail instead of silently becoming the last writer.
    assert(Versioned.commit(spark, t, 1,
      Versioned.snapshotFiles(spark, t, 0)) == 1)
    val e = intercept[IllegalStateException] {
      Versioned.commit(spark, t, 1, Versioned.snapshotFiles(spark, t, 0))
    }
    assert(e.getMessage.contains("lost a race"))
    // The winner's commit is untouched and the table never read as
    // uninitialized (nothing on the commit path deletes or renames).
    assert(Versioned.currentVersion(spark, t).contains(1))
  }

  test("concurrent mergeUpsert writers: no lost update, distinct versions") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val t = tmpDir("versioned") + "/t"
    Versioned.init(docs(Seq(1L, 2L), _ => 1L), t)
    val sources = Seq(docs(Seq(3L), _ => 3L), docs(Seq(4L), _ => 4L))
    val results = Await.result(
      Future.sequence(sources.map(s => Future(
        try Right(Versioned.mergeUpsert(s, t, Seq("doc_id")))
        catch { case e: Exception => Left(e) }))),
      2.minutes)
    val won = results.collect { case Right(v) => v }
    // Outcomes: serialized (both commit, distinct versions) or raced
    // (one fails fast). NEVER two writers claiming the same version.
    assert(won.nonEmpty && won.distinct == won, s"got $results")
    assert(Versioned.currentVersion(spark, t).contains(won.max))
    val got = rows(Versioned.current(spark, t))
    // No lost update: every SUCCESSFUL writer's row is in the final
    // state iff its version is the max or its rows were carried
    // forward by the later merge (merge carries all unmatched rows).
    if (won.size == 2) {
      assert(got.contains((3L, "src_0", 3L)) &&
        got.contains((4L, "src_1", 4L)))
    } else {
      assert(got.contains((3L, "src_0", 3L)) ||
        got.contains((4L, "src_1", 4L)))
    }
  }

  test("file-granular merge: narrow upsert rewrites only overlapping files") {
    val t = tmpDir("versioned") + "/t"
    val base = docs(1L to 120L, _ => 10L)
      .repartitionByRange(6, col("doc_id"))
    Versioned.init(base, t)
    val v0Files = Versioned.snapshotFiles(spark, t, 0)
    assert(v0Files.size >= 4, s"fixture needs several files, got $v0Files")
    // Source touches only the low end of the key range.
    Versioned.mergeUpsert(docs(Seq(2L, 5L, 121L), _ => 99L), t,
      Seq("doc_id"))
    val v1Files = Versioned.snapshotFiles(spark, t, 1)
    val carried = v1Files.filter(_.startsWith("v=0/")).toSet
    val rewritten = v0Files.filterNot(carried).size
    // Most of the table carried by reference; only the file(s) whose
    // [min,max] overlaps {2,5,121} were rewritten.
    assert(carried.nonEmpty, "no files carried by reference")
    assert(rewritten < v0Files.size,
      s"expected a partial rewrite, rewrote all ${v0Files.size}")
    assert(rewritten <= 2, s"pruning too weak: rewrote $rewritten files")
    // Output identical to the relational merge definition.
    val expect = (1L to 120L).map {
      case i if i == 2L || i == 5L => (i, s"src_${i % 3}", 99L)
      case i => (i, s"src_${i % 3}", 10L)
    }.toSet + ((121L, "src_1", 99L))
    assert(rows(Versioned.current(spark, t)) == expect)
  }

  test("partition-column merge key prunes from the path alone") {
    val t = tmpDir("versioned") + "/t"
    Versioned.init(docs(1L to 30L, _ => 10L), t,
      partitionCols = Seq("source"))
    val v0Files = Versioned.snapshotFiles(spark, t, 0)
    assert(v0Files.exists(_.contains("source=")), s"not partitioned: $v0Files")
    // Leading key = the partition column; source rows touch src_1 only.
    import spark.implicits._
    val src = Seq(("src_1", 4L, 77L), ("src_1", 31L, 77L))
      .toDF("source", "doc_id", "n_chars")
    Versioned.mergeUpsert(src, t, Seq("source", "doc_id"))
    val v1Files = Versioned.snapshotFiles(spark, t, 1)
    // src_0 and src_2 partitions carried by reference, never read.
    assert(v1Files.filter(_.startsWith("v=0/"))
      .forall(f => !f.contains("source=src_1")))
    assert(v1Files.exists(f =>
      f.startsWith("v=0/") && f.contains("source=src_0")))
    val got = rows(Versioned.current(spark, t))
    assert(got.contains((4L, "src_1", 77L)) &&
      got.contains((31L, "src_1", 77L)) && got.contains((3L, "src_0", 10L)))
    assert(got.size == 31)
  }

  test("changes: insert/update/delete classified; rewrites suppressed") {
    val t = tmpDir("versioned") + "/t"
    Versioned.init(docs(1L to 60L, _ => 10L)
      .repartitionByRange(4, col("doc_id")), t)
    // One merge carrying all three change kinds into a narrow key
    // range: update 2, delete 5, insert 61 — every other row of the
    // rewritten file(s) is a physical rewrite with no logical change.
    val src = docs(Seq(2L, 5L, 61L), _ => 99L)
      .withColumn("__del", col("doc_id") === 5L)
    Versioned.mergeUpsert(src, t, Seq("doc_id"),
      deleteFlag = Some("__del"))
    val feed = Versioned.changes(spark, t, 0, 1, Seq("doc_id"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    assert(feed == Set(
      (2L, "update", "src_2", 99L),
      (5L, "delete", "src_2", 10L), // before-image for deletes
      (61L, "insert", "src_1", 99L)))
    // Feed equals the relational snapshot diff (the expensive form
    // the manifest diff avoids computing).
    val v0 = Versioned.snapshot(spark, t, 0)
    val v1 = Versioned.snapshot(spark, t, 1)
    val rel = v1.join(v0, Seq("doc_id"), "full_outer").count()
    assert(rel == 61L) // sanity: 60 v0 keys + 1 insert
  }

  test("changes reads only the manifest-diff files, not the table") {
    val t = tmpDir("versioned") + "/t"
    Versioned.init(docs(1L to 120L, _ => 10L)
      .repartitionByRange(6, col("doc_id")), t)
    Versioned.mergeUpsert(docs(Seq(3L), _ => 99L), t, Seq("doc_id"))
    val df = Versioned.changes(spark, t, 0, 1, Seq("doc_id"))
    // Both sides of the diff together touch only the rewritten
    // file(s) + their replacements — strictly fewer than the table.
    val scanned: Int = df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case h: org.apache.spark.sql.execution.datasources
            .HadoopFsRelation => h.location.inputFiles.length
          case _ => 0
        }
    }.sum
    val tableFiles = Versioned.snapshotFiles(spark, t, 1).size
    assert(scanned > 0 && scanned < tableFiles,
      s"expected a pruned read, scanned $scanned of $tableFiles files")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("scanRange prunes files by footer stats; result equals filter") {
    val t = tmpDir("versioned") + "/t"
    Versioned.init(docs(1L to 120L, _ => 10L)
      .repartitionByRange(6, col("doc_id")), t)
    val total = Versioned.snapshotFiles(spark, t, 0).size
    assert(total >= 4, s"fixture needs several files, got $total")
    val pruned = Versioned.scanRange(spark, t, "doc_id", 30L, 50L)
    // IO cut: only the file(s) whose [min,max] overlaps [30,50] are
    // in the scan — strictly fewer than the snapshot's files.
    val scanned = pruned.inputFiles.length
    assert(scanned > 0 && scanned < total,
      s"expected a pruned read, scanned $scanned of $total files")
    // Rows identical to the unpruned filter (pruning cuts IO, not rows).
    assert(rows(pruned) ==
      rows(Versioned.current(spark, t)
        .filter(col("doc_id").between(30L, 50L))))
    // Empty intersection: no files, no rows, schema intact.
    val none = Versioned.scanRange(spark, t, "doc_id", 500L, 600L)
    assert(none.count() == 0 &&
      none.columns.toSeq == Seq("doc_id", "source", "n_chars"))
  }

  test("compact packs merge debris; content, travel and CDC unaffected") {
    val t = tmpDir("versioned") + "/t"
    Versioned.init(docs(1L to 60L, _ => 10L)
      .repartitionByRange(3, col("doc_id")), t)
    // Three narrow merges, each leaving fresh small files behind.
    Seq(Seq(2L), Seq(7L), Seq(61L)).foreach(ids =>
      Versioned.mergeUpsert(docs(ids, _ => 99L), t, Seq("doc_id")))
    val vBefore = Versioned.currentVersion(spark, t).get
    val before = Versioned.snapshotFiles(spark, t, vBefore)
    val content = rows(Versioned.current(spark, t))
    val vAfter = Versioned.compact(spark, t)
    assert(vAfter == vBefore + 1)
    val after = Versioned.snapshotFiles(spark, t, vAfter)
    assert(after.size < before.size,
      s"expected fewer files: ${before.size} -> ${after.size}")
    // Bit-identical content; the pre-compaction snapshot still reads.
    assert(rows(Versioned.current(spark, t)) == content)
    assert(rows(Versioned.snapshot(spark, t, vBefore)) == content)
    // Physical reorganization is invisible to CDC.
    assert(Versioned.changes(spark, t, vBefore, vAfter,
      Seq("doc_id")).count() == 0)
    // Already-compact table: no-op, no new version.
    assert(Versioned.compact(spark, t) == vAfter)
    // Vacuum reclaims the packed debris; current still reads.
    Versioned.vacuum(spark, t, keepLast = 1)
    assert(rows(Versioned.current(spark, t)) == content)
  }

  test("clusterBy: Z-order makes BOTH columns' footer stats prune") {
    import spark.implicits._
    val t = tmpDir("versioned") + "/t"
    // A 20x20 grid: under a single-column (x) sort, y's per-file
    // [min,max] spans the whole domain and can never prune.
    val grid = (0L until 400L)
      .map(i => (i, i % 20L, i / 20L)).toDF("id", "x", "y")
    Versioned.init(grid.repartition(1), t)
    Versioned.clusterBy(spark, t, ("x", "y"), nFiles = 8, bits = 8)
    val total = Versioned.snapshotFiles(spark, t, 1).size
    assert(total >= 4, s"fixture needs several files, got $total")
    def scanned(bounds: (String, Any, Any)*) =
      Versioned.scanRanges(spark, t, bounds).inputFiles.length
    // Each dimension ALONE prunes — the Z-order property.
    assert(scanned(("x", 0L, 4L)) < total)
    assert(scanned(("y", 0L, 4L)) < total)
    // Both together prune at least as hard as either alone.
    val both = scanned(("x", 0L, 4L), ("y", 0L, 4L))
    assert(both <= scanned(("x", 0L, 4L)) &&
      both <= scanned(("y", 0L, 4L)))
    // Rows are exactly the unpruned filter's (content unchanged by
    // the relayout; pruning cuts IO, never rows).
    val got = Versioned.scanRanges(spark, t,
        Seq(("x", 0L, 4L), ("y", 0L, 4L)))
      .select("id").as[Long].collect().toSet
    val want = (0L until 400L)
      .filter(i => i % 20L <= 4L && i / 20L <= 4L).toSet
    assert(got == want)
  }

  test("init refuses an existing table; merge refuses uninitialized") {
    val t = tmpDir("versioned") + "/t"
    Versioned.init(docs(Seq(1L), _ => 1L), t)
    intercept[IllegalArgumentException] {
      Versioned.init(docs(Seq(2L), _ => 1L), t)
    }
    intercept[IllegalStateException] {
      Versioned.mergeUpsert(docs(Seq(1L), _ => 1L), t + "_missing",
        Seq("doc_id"))
    }
  }

  test("shallowClone: metadata-only; diverges; clone vacuum is safe") {
    val root = tmpDir("versioned_clone")
    val (src, cl) = (root + "/src", root + "/clone")
    Versioned.init(docs(Seq(1L, 2L, 3L, 4L), _ => 100L)
      .repartitionByRange(2, col("doc_id")), src)
    Versioned.shallowClone(spark, src, cl)
    // metadata-only: the clone root holds NO data files at v0
    def dataFiles(t: String) = {
      val d = new java.io.File(t)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      walk(d).filter(_.getName.startsWith("part-"))
    }
    assert(dataFiles(cl).isEmpty, "clone must not copy data")
    assert(rows(Versioned.current(spark, cl)) ==
      rows(Versioned.current(spark, src)))
    // diverge the clone; the source must not observe it
    Versioned.mergeUpsert(docs(Seq(1L), _ => 999L), cl, Seq("doc_id"))
    assert(rows(Versioned.current(spark, cl)) == Set(
      (1L, "src_1", 999L), (2L, "src_2", 100L),
      (3L, "src_0", 100L), (4L, "src_1", 100L)))
    assert(rows(Versioned.current(spark, src)) ==
      Set((1L, "src_1", 100L), (2L, "src_2", 100L),
        (3L, "src_0", 100L), (4L, "src_1", 100L)))
    // the clone's own new files live under its root; only the files
    // it rewrote, the rest stay inherited by absolute reference
    assert(dataFiles(cl).nonEmpty)
    // clone vacuum never deletes the source's files
    val srcFilesBefore = dataFiles(src).map(_.getPath).toSet
    Versioned.vacuum(spark, cl, keepLast = 1)
    assert(dataFiles(src).map(_.getPath).toSet == srcFilesBefore)
    assert(rows(Versioned.current(spark, cl)).size == 4)
    // cloning onto an existing table fails fast
    intercept[IllegalArgumentException] {
      Versioned.shallowClone(spark, src, cl)
    }
  }

  test("merge-on-read: log append, latest-wins read, fold, CDC") {
    val t = tmpDir("versioned_mor") + "/t"
    Versioned.init(
      docs(1L to 120L, _ => 10L).repartitionByRange(6, col("doc_id")), t)
    val v0Files = Versioned.snapshotFiles(spark, t, 0)
    assert(v0Files.size >= 4)
    // scattered hot keys graze most base files — the ~18x CoW
    // write-amplification case MorProbe measured; the MoR commit
    // writes ONLY the batch (base carried by reference)
    Versioned.mergeUpsertMoR(
      docs(Seq(5L, 30L, 55L, 80L, 105L, 121L), _ => 500L),
      t, Seq("doc_id"))
    val f1 = Versioned.snapshotFiles(spark, t, 1)
    assert(f1.filterNot(_.startsWith("log:")) == v0Files,
      "a MoR commit must not rewrite base files")
    assert(f1.exists(_.startsWith("log:")))
    val cur1 = rows(Versioned.current(spark, t))
    assert(cur1.size == 121)
    assert(cur1.contains((5L, "src_2", 500L)) &&
      cur1.contains((121L, "src_1", 500L)) &&
      cur1.contains((6L, "src_0", 10L)))
    // a second log batch supersedes the first where keys overlap
    Versioned.mergeUpsertMoR(docs(Seq(5L, 7L), _ => 900L), t,
      Seq("doc_id"))
    val cur2 = rows(Versioned.current(spark, t))
    assert(cur2.contains((5L, "src_2", 900L)) &&
      cur2.contains((7L, "src_1", 900L)) &&
      cur2.contains((30L, "src_0", 500L)))
    // CDC across a log-append commit: inserts vs updates classified
    // (before-images looked up in the fromV snapshot)
    val cdc = Versioned.changes(spark, t, 0, 1, Seq("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cdc.size == 6 && cdc(121L) == "insert" &&
      cdc(5L) == "update" && cdc(105L) == "update", s"$cdc")
    // the CoW merge path refuses a logged table, fail-fast
    intercept[IllegalArgumentException] {
      Versioned.mergeUpsert(docs(Seq(1L), _ => 1L), t, Seq("doc_id"))
    }
    // time travel reads THROUGH the log: v1 shows batch 1 only
    val snap1 = Versioned.snapshot(spark, t, 1).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(snap1(5L) == 500L && snap1(7L) == 10L)
    // OPTIMIZE folds the log through the file-granular CoW planner:
    // content identical, manifest log-free, CDC across the fold EMPTY
    val vBefore = Versioned.currentVersion(spark, t).get
    val vAfter = Versioned.compact(spark, t, targetFileBytes = 1L << 20)
    assert(vAfter > vBefore)
    assert(Versioned.snapshotFiles(spark, t, vAfter)
      .forall(!_.startsWith("log:")))
    assert(rows(Versioned.current(spark, t)) == cur2,
      "fold must not change content")
    (vBefore until vAfter).foreach { v =>
      assert(Versioned.changes(spark, t, v, v + 1, Seq("doc_id"))
        .isEmpty, s"physical reorg must be CDC-invisible ($v)")
    }
    // post-fold the CoW path works again, and vacuum + re-read hold
    Versioned.mergeUpsert(docs(Seq(2L), _ => 77L), t, Seq("doc_id"))
    Versioned.vacuum(spark, t, keepLast = 1)
    val fin = rows(Versioned.current(spark, t))
    assert(fin.contains((2L, "src_2", 77L)) && fin.size == 121)
  }

  test("merge-on-read tombstones: delete, resurrect, fold, CDC") {
    val t = tmpDir("versioned_mor_del") + "/t"
    Versioned.init(
      docs(1L to 60L, _ => 10L).repartitionByRange(4, col("doc_id")), t)
    // batch 1: plain upsert log (no flag column in its file)
    Versioned.mergeUpsertMoR(docs(Seq(5L, 61L), _ => 500L), t,
      Seq("doc_id"))
    // batch 2: tombstones for one base key, one logged key, one
    // absent key; plus a live upsert in the same batch
    import spark.implicits._
    val b2 = Seq(
      (7L, "src_1", 0L, true), (61L, "src_1", 0L, true),
      (999L, "src_0", 0L, true), (8L, "src_2", 800L, false))
      .toDF("doc_id", "source", "n_chars", "is_deleted")
    Versioned.mergeUpsertMoR(b2, t, Seq("doc_id"),
      deleteFlag = Some("is_deleted"))
    val cur = rows(Versioned.current(spark, t))
    assert(cur.size == 59, s"60 + insert(61) - del(7) - del(61): $cur")
    assert(!cur.exists(r => r._1 == 7L || r._1 == 61L || r._1 == 999L))
    assert(cur.contains((8L, "src_2", 800L)) &&
      cur.contains((5L, "src_2", 500L)))
    // resurrection: a later upsert overrides the tombstone
    Versioned.mergeUpsertMoR(docs(Seq(7L), _ => 700L), t, Seq("doc_id"))
    val cur2 = rows(Versioned.current(spark, t))
    assert(cur2.contains((7L, "src_1", 700L)) && cur2.size == 60)
    // CDC across the tombstone commit: deletes carry before-images
    val cdc = Versioned.changes(spark, t, 1, 2, Seq("doc_id"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(3)))
      .toMap
    assert(cdc(7L) == (("delete", 10L)), s"$cdc")
    assert(cdc(61L) == (("delete", 500L)), s"$cdc")
    assert(cdc(8L) == (("update", 800L)), s"$cdc") // 8 is in base (8%3!=0)
    assert(!cdc.contains(999L), s"absent-key delete must not report: $cdc")
    // fold applies deletions to base and drops the tombstones
    val vFold = Versioned.compact(spark, t, targetFileBytes = 1L << 20)
    assert(Versioned.snapshotFiles(spark, t, vFold)
      .forall(!_.startsWith("log:")))
    assert(rows(Versioned.current(spark, t)) == cur2,
      "fold must preserve post-delete content")
    // snapshot BEFORE the tombstone batch still shows the old rows
    val snap1 = Versioned.snapshot(spark, t, 1).collect()
      .map(_.getLong(0)).toSet
    assert(snap1.contains(7L) && snap1.contains(61L))
  }

  test("scanRange over a logged table: pruned read equals merged filter") {
    val t = tmpDir("versioned_mor_scan") + "/t"
    Versioned.init(
      docs(1L to 90L, _ => 10L).repartitionByRange(5, col("doc_id")), t)
    // log touches keys inside AND outside the scan range, plus a
    // tombstone inside it
    import spark.implicits._
    Versioned.mergeUpsertMoR(
      Seq((12L, "src_0", 512L, false), (70L, "src_1", 570L, false),
        (15L, "src_0", 0L, true))
        .toDF("doc_id", "source", "n_chars", "del"),
      t, Seq("doc_id"), deleteFlag = Some("del"))
    val got = Versioned.scanRange(spark, t, "doc_id", 10L, 20L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val want = Versioned.current(spark, t)
      .filter(col("doc_id") >= 10 && col("doc_id") <= 20)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got == want, s"$got vs $want")
    assert(got(12L) == 512L && !got.contains(15L) && got.size == 10)
  }

  test("vacuum with a pending log keeps every referenced file") {
    val t = tmpDir("versioned_mor_vac") + "/t"
    Versioned.init(
      docs(1L to 40L, _ => 10L).repartitionByRange(3, col("doc_id")), t)
    Versioned.mergeUpsertMoR(docs(Seq(5L), _ => 500L), t, Seq("doc_id"))
    Versioned.mergeUpsertMoR(docs(Seq(6L), _ => 600L), t, Seq("doc_id"))
    val expect = rows(Versioned.current(spark, t))
    // v0/v1 manifests drop; the v2 manifest still references the v0
    // base files AND both log files (the log: prefix must not hide
    // them from the reference set)
    Versioned.vacuum(spark, t, keepLast = 1)
    assert(rows(Versioned.current(spark, t)) == expect)
    assert(Versioned.versions(spark, t) == Seq(2))
  }

  test("two racing committers of the same version: exactly one wins") {
    // the commit primitive directly: both threads race to CREATE the
    // v1 manifest after the barrier — the CREATE-no-overwrite marker
    // must admit exactly one winner, deterministically, every round
    val t = tmpDir("versioned_race") + "/t"
    Versioned.init(docs(Seq(1L, 2L, 3L), _ => 100L), t)
    (1 to 5).foreach { round =>
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val results = new java.util.concurrent.ConcurrentLinkedQueue[
        Either[Throwable, Int]]()
      val threads = Seq("a", "b").map { tag =>
        new Thread(() => {
          barrier.await()
          try results.add(Right(Versioned.commit(spark, t,
            round, Seq(s"v=0/fake_$tag"))))
          catch { case e: Throwable => results.add(Left(e)) }
          ()
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      val (losers, winners) =
        (results.toArray(Array.empty[Either[Throwable, Int]]).toSeq
          .partition(_.isLeft))
      assert(winners.size == 1, s"round $round: $winners")
      assert(losers.size == 1 &&
        losers.head.left.exists(_.getMessage.contains("lost a race")),
        s"round $round: $losers")
    }
  }

  test("two concurrent mergeUpsert writers leave a consistent table") {
    val t = tmpDir("versioned_mrace") + "/t"
    Versioned.init(docs((1L to 40L), _ => 100L), t)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[
      Either[Throwable, Int]]()
    val threads = Seq(500L, 900L).map { v =>
      new Thread(() => {
        barrier.await()
        try outcomes.add(Right(Versioned.mergeUpsert(
          docs(Seq(7L, 8L), _ => v), t, Seq("doc_id"))))
        catch { case e: Throwable => outcomes.add(Left(e)) }
        ()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val res = outcomes.toArray(Array.empty[Either[Throwable, Int]]).toSeq
    val nWins = res.count(_.isRight)
    // either the race was caught (one loser fails FAST — at the
    // ErrorIfExists version-dir write or at the commit marker, both
    // before any visible state changes) or the two serialized into
    // distinct versions; in all worlds versions are contiguous and
    // the surviving table is exactly a committed merge state
    assert(nWins >= 1, s"$res")
    assert(res.filter(_.isLeft).forall(_.left.exists(e =>
      e.getMessage.contains("lost a race") ||
        e.getMessage.toLowerCase.contains("already exists"))), s"$res")
    assert(Versioned.currentVersion(spark, t).contains(nWins))
    val cur = rows(Versioned.current(spark, t))
    assert(cur.size == 40, s"row count torn: ${cur.size}")
    assert(Seq(500L, 900L).exists(v =>
      cur.contains((7L, "src_1", v)) && cur.contains((8L, "src_2", v))),
      s"merged keys must reflect exactly one committed writer: " +
        cur.filter(r => r._1 == 7L || r._1 == 8L).toString)
  }

  test("schema evolution: widening merge null-fills; travel keeps v0") {
    import spark.implicits._
    val t = tmpDir("versioned_evo") + "/t"
    Versioned.init(docs(Seq(1L, 2L, 3L), _ => 100L), t)
    // widening CoW merge: the source carries a NEW column
    val widened = Seq((2L, "src_2", 200L, 9L), (4L, "src_1", 400L, 7L))
      .toDF("doc_id", "source", "n_chars", "quality")
    Versioned.mergeUpsert(widened, t, Seq("doc_id"))
    val cur = Versioned.current(spark, t)
    assert(cur.columns.contains("quality"))
    val q = cur.select("doc_id", "quality").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
        else Some(r.getLong(1)))).toMap
    assert(q == Map(1L -> None, 2L -> Some(9L), 3L -> None,
      4L -> Some(7L)), s"$q")
    // time travel: v0 predates the column — its schema is unchanged
    assert(!Versioned.snapshot(spark, t, 0).columns.contains("quality"))
    // CDC across the evolution commit: carried-over rows (null == null
    // on the new column) are NOT spurious updates; the upsert with an
    // unchanged payload but a new non-null column IS an update
    val ch = Versioned.changes(spark, t, 0, 1, Seq("doc_id"))
      .select("doc_id", "change_type").as[(Long, String)]
      .collect().toSet
    assert(ch == Set((2L, "update"), (4L, "insert")), s"$ch")
    // narrowing source: a later merge WITHOUT the column null-fills
    // its own rows (whole-row replace), others keep their values
    Versioned.mergeUpsert(docs(Seq(2L), _ => 250L), t, Seq("doc_id"))
    val q2 = Versioned.current(spark, t)
      .select("doc_id", "quality").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
        else Some(r.getLong(1)))).toMap
    assert(q2 == Map(1L -> None, 2L -> None, 3L -> None,
      4L -> Some(7L)), s"$q2")
  }

  test("schema evolution through the MoR log: read, fold, survive") {
    import spark.implicits._
    val t = tmpDir("versioned_evo_mor") + "/t"
    Versioned.init(docs(Seq(1L, 2L, 3L), _ => 100L), t)
    val widened = Seq((3L, "src_0", 300L, 5L), (5L, "src_2", 500L, 8L))
      .toDF("doc_id", "source", "n_chars", "quality")
    Versioned.mergeUpsertMoR(widened, t, Seq("doc_id"))
    def qmap(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "quality").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
          else Some(r.getLong(1)))).toMap
    val expected = Map(1L -> None, 2L -> None, 3L -> Some(5L),
      5L -> Some(8L))
    // merged MoR read: base rows null-fill the log's new column
    assert(qmap(Versioned.current(spark, t)) == expected)
    // the fold rewrites the grazed base files; values survive and the
    // manifest is log-free
    Versioned.compactLogs(spark, t)
    assert(qmap(Versioned.current(spark, t)) == expected)
    // a CoW merge REQUIRES a log-free manifest — succeeding proves
    // the fold retired the log entries
    Versioned.mergeUpsert(docs(Seq(6L), _ => 600L), t, Seq("doc_id"))
    assert(qmap(Versioned.current(spark, t)) ==
      expected + (6L -> None))
  }

  test("deleteWhere: predicate delete ≡ filter; idempotent; time travel intact") {
    val t = tmpDir("vdelw") + "/t"
    Versioned.init(docs(1L to 10L, i => 100L * i), t)
    val n = Versioned.deleteWhere(spark, t,
      col("n_chars") >= 700L, Seq("doc_id"))
    assert(n == 4L) // docs 7..10
    val ids = Versioned.current(spark, t)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == (1L to 6L).toSet)
    // idempotent: nothing left matching → no commit
    val v = Versioned.currentVersion(spark, t).get
    assert(Versioned.deleteWhere(spark, t,
      col("n_chars") >= 700L, Seq("doc_id")) == 0L)
    assert(Versioned.currentVersion(spark, t).get == v)
    // pre-delete snapshot still serves all rows
    assert(Versioned.snapshot(spark, t, 0).count() == 10L)
  }
}
