package graft.operators

import graft.{SparkSpec, Tables, Versioned}
import graft.functions.VectorFunctions.toDoubleArray
import org.apache.spark.sql.functions._

class VectorIndexSpec extends SparkSpec {
  import spark.implicits._

  private def queriesDf(dir: String) =
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 73 === 0)
      .select(col("vec_id").as("query_id"),
        toDoubleArray(col("embedding")).as("qv"))

  test("stored index serves the exact recompute result") {
    val root = tmpDir("vecidx") + "/index"
    val emb = Tables.embeddings(spark, sfSmoke)
    VectorIndexOps.initVectorIndex(emb, root, stride = 50, nSub = 4)
    val served = VectorIndexOps
      .servedIvfPqBatch(spark, root, queriesDf(sfSmoke), k = 5, nProbe = 3)
      .as[(Long, Long, Double)].collect().toSeq
    val recompute = SimilarityOps.ivfPqTopKBatch(emb, queryMod = 73,
      k = 5, stride = 50, nSub = 4, nProbe = 3)
      .as[(Long, Long, Double)].collect().toSeq
    assert(served == recompute && served.nonEmpty)
  }

  test("incremental append equals full retrain; replay is idempotent") {
    val emb = Tables.embeddings(spark, sfSmoke)
    // the appended batch contains no strided-training vector, so the
    // frozen codebooks equal the full-retrain ones and the index
    // contents must match exactly
    val late = col("vec_id") % 7 === 3 && col("vec_id") % 50 =!= 0
    val full = tmpDir("vecidx_full") + "/index"
    VectorIndexOps.initVectorIndex(emb, full, stride = 50, nSub = 4)
    val inc = tmpDir("vecidx_inc") + "/index"
    VectorIndexOps.initVectorIndex(emb.filter(!late), inc,
      stride = 50, nSub = 4)
    val rep1 = VectorIndexOps.appendVectors(emb.filter(late), inc)
      .as[(Long, Long, Long)].collect().head
    assert(rep1._2 > 0 && rep1._3 == 0, s"$rep1")
    def table(root: String, rel: String, cols: String*) =
      Versioned.current(spark, s"$root/$rel")
        .selectExpr(cols: _*).collect()
        .map(_.toSeq).sortBy(_.mkString(","))
    assert(table(inc, "assign", "vec_id", "centroid_id").toSeq ==
      table(full, "assign", "vec_id", "centroid_id").toSeq)
    assert(table(inc, "codes", "vec_id", "s", "cid").toSeq ==
      table(full, "codes", "vec_id", "s", "cid").toSeq)
    // replaying the same batch appends nothing (identity skip)
    val rep2 = VectorIndexOps.appendVectors(emb.filter(late), inc)
      .as[(Long, Long, Long)].collect().head
    assert(rep2._2 == 0 && rep2._3 == rep1._2, s"$rep2")
    assert(table(inc, "assign", "vec_id").length ==
      table(full, "assign", "vec_id").length)
    // and the incrementally-built index serves identically
    val a = VectorIndexOps
      .servedIvfPqBatch(spark, inc, queriesDf(sfSmoke), 5, 3).collect()
    val b = VectorIndexOps
      .servedIvfPqBatch(spark, full, queriesDf(sfSmoke), 5, 3).collect()
    assert(a.toSeq == b.toSeq)
  }

  test("serving READS the stored assignment (tamper is visible)") {
    val root = tmpDir("vecidx_tamper") + "/index"
    val emb = Tables.embeddings(spark, sfSmoke)
    VectorIndexOps.initVectorIndex(emb, root, stride = 50, nSub = 4)
    val qs = queriesDf(sfSmoke)
    val r1 = VectorIndexOps.servedIvfPqBatch(spark, root, qs, 5, 3)
      .as[(Long, Long, Double)].collect().toSeq
    val (q0, v0, _) = r1.head
    // move q0's top hit into a centroid q0 does not probe: a rebuild
    // from embeddings would undo this, so the hit disappearing from
    // the serving proves the stored inverted file is what's read
    val probed = Versioned.current(spark, s"$root/cents")
      .select(col("centroid_id"), col("cv"))
      .withColumn("cnrm", graft.functions.VectorFunctions.l2Norm(col("cv")))
      .crossJoin(broadcast(qs.filter(col("query_id") === q0)))
      .select(col("centroid_id"),
        round(graft.functions.VectorFunctions.cosinePrenormed(col("cv"),
          col("qv"), col("cnrm"),
          graft.functions.VectorFunctions.l2Norm(col("qv"))), 6)
          .as("ps"))
      .orderBy(col("ps").desc, col("centroid_id").asc)
      .limit(3).as[(Long, Double)].collect().map(_._1).toSet
    val unprobed = Versioned.current(spark, s"$root/cents")
      .select("centroid_id").as[Long].collect()
      .find(c => !probed.contains(c)).get
    Versioned.mergeUpsert(
      Seq((v0, unprobed)).toDF("vec_id", "centroid_id"),
      s"$root/assign", Seq("vec_id"))
    val r2 = VectorIndexOps.servedIvfPqBatch(spark, root,
      qs.filter(col("query_id") === q0), 5, 3)
      .as[(Long, Long, Double)].collect().toSeq
    assert(!r2.exists(_._2 == v0),
      s"tampered assignment must be visible: $r2")
  }

  test("deleteVectors: tombstoned ids stop surfacing; delete is idempotent") {
    val root = tmpDir("vecidxdel") + "/index"
    val emb = Tables.embeddings(spark, sfSmoke)
    VectorIndexOps.initVectorIndex(emb, root, stride = 50, nSub = 4)
    val before = VectorIndexOps
      .servedIvfPqBatch(spark, root, queriesDf(sfSmoke), 5, 3)
      .as[(Long, Long, Double)].collect().toSeq
    // delete exactly the ids the index currently serves → results
    // must change and never contain them again
    val victimIds = before.map(_._2).distinct.take(3)
    val victims = victimIds.toDF("vec_id")
    val rep1 = VectorIndexOps.deleteVectors(spark, victims, root)
      .as[(Long, Long, Long)].head()
    assert(rep1 == ((victimIds.size.toLong, victimIds.size.toLong, 0L)))
    val after = VectorIndexOps
      .servedIvfPqBatch(spark, root, queriesDf(sfSmoke), 5, 3)
      .as[(Long, Long, Double)].collect().toSeq
    assert(after.nonEmpty)
    assert(!after.exists(r => victimIds.contains(r._2)),
      s"deleted ids resurfaced: $after")
    // idempotent: a second delete of the same ids is a no-op report
    val rep2 = VectorIndexOps.deleteVectors(spark, victims, root)
      .as[(Long, Long, Long)].head()
    assert(rep2 == ((victimIds.size.toLong, 0L,
      victimIds.size.toLong)))
  }

  test("serving from an uninitialized index root names that cause") {
    val root = tmpDir("vecidx_none") + "/index"
    val e = intercept[IllegalStateException](VectorIndexOps
      .servedIvfPqBatch(spark, root, queriesDf(sfSmoke), 5, 3))
    assert(e.getMessage == s"uninitialized versioned table: $root/meta")
  }
}
