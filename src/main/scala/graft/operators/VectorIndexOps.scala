package graft.operators

import graft.Versioned
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED IVF-PQ vector index — the incremental-maintenance form
  * of the similarity tier (the [[DedupOps.initSignatureStore]]
  * pattern applied to vectors): instead of re-deriving centroids,
  * assignments and PQ codes from the embeddings table per query
  * ([[SimilarityOps.ivfPqTopKBatch]]'s shape), the index is TRAINED
  * ONCE and persisted as [[graft.Versioned]] tables; queries serve
  * from the stored index, and newly-arriving vectors are gated in
  * incrementally against the FROZEN codebook.
  *
  * Reference intent: the dead `SentenceTransformer` /
  * `cosine_similarity` imports (ethical_crawler.py:31–33), the
  * never-populated `embedding FLOAT[]` column (:842), and the
  * per-dataset refresh flow (:416–451) — refresh implies index
  * MAINTENANCE, not rebuild.
  *
  * Layout under `root` (all Versioned tables — time travel, CDC and
  * OPTIMIZE apply to the index like any other table):
  *  - `meta`     (stride, n_sub, sub_dim): the frozen index config;
  *  - `cents`    (centroid_id, cv): the coarse codebook;
  *  - `codebook` (cid, s, cs): the PQ sub-codebooks;
  *  - `assign`   (vec_id, centroid_id): the inverted file;
  *  - `codes`    (vec_id, s, cid): the compressed vectors.
  *
  * The codebooks are frozen at init (k18's df-cap-freeze caveat,
  * verbatim): appended vectors are quantized against them, exactly
  * like a production FAISS/ScaNN deployment serves a trained index
  * and retrains offline. As long as an appended batch contains no
  * vector the strided-training convention would have made a centroid
  * (`vec_id % stride == 0`), incremental append ≡ full retrain —
  * asserted in VectorIndexSpec.
  *
  * 100 TB shape: init is one assignment pass (N·|cents| dots via the
  * codegen kernel, codebook broadcast) + one encode pass (N·nSub
  * windowed argmins, sub-codebook broadcast); append is the same two
  * passes over the BATCH only; serve reads only the (vec_id,
  * centroid_id) and (vec_id, s, cid) relations — never a full-width
  * vector after encode ([[SimilarityOps.ivfPqTopKBatch]]'s serving
  * contract, now against persisted state).
  */
object VectorIndexOps {

  /** (vec_id, centroid_id): deterministic nearest-centroid assignment
    * (best 6-dp cosine, centroid-id tiebreak) against an explicit
    * centroid relation (centroid_id, cv).
    */
  private def assignAgainst(vecs: DataFrame, cents: DataFrame)
      : DataFrame = {
    val c = cents.withColumn("cnrm", l2Norm(col("cv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("cscore").desc, col("centroid_id").asc)
    vecs.crossJoin(broadcast(c))
      .select(col("vec_id"), col("centroid_id"),
        round(cosinePrenormed(col("v"), col("cv"), col("nrm"),
          col("cnrm")), 6).as("cscore"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select("vec_id", "centroid_id")
  }

  /** (vec_id, s, cid): deterministic PQ encode (6-dp argmin of
    * ‖vs−cs‖² with the ‖vs‖² constant dropped, cid tiebreak) against
    * an explicit sub-codebook relation (cid, s, cs).
    */
  private def encodeAgainst(slicedVecs: DataFrame, cb: DataFrame)
      : DataFrame = {
    val c = cb.withColumn("cc", dot(col("cs"), col("cs")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"), col("s"))
      .orderBy(col("d2").asc, col("cid").asc)
    slicedVecs.join(broadcast(c), Seq("s"))
      .select(col("vec_id"), col("s"), col("cid"),
        round(col("cc") - lit(2) * dot(col("vs"), col("cs")), 6)
          .as("d2"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select("vec_id", "s", "cid")
  }

  private def sliced(vecs: DataFrame, nSub: Int, sub: Int): DataFrame =
    vecs.select(col("vec_id"), explode(array(
        (0 until nSub).map(s => struct(lit(s).as("s"),
          slice(col("v"), s * sub + 1, sub).as("x"))): _*)).as("e"))
      .select(col("vec_id"), col("e.s").as("s"), col("e.x").as("vs"))

  private def normed(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"),
        toDoubleArray(col("embedding")).as("v"))
      .withColumn("nrm", l2Norm(col("v")))

  /** The frozen index config (n_sub, sub_dim), read DRIVER-SIDE from
    * the 1-row meta table: this is index-OPEN metadata, not data —
    * reading it through `Versioned.current(...).head()` scheduled one
    * full 1-task Spark job (plus its DAG-scheduler gap) per
    * serve/append invocation (round-18 JobProfile: 6 single-task jobs
    * in n21's 13; VERDICT #2's manifest-read term). The manifest is
    * resolved exactly as [[graft.Versioned.snapshot]] resolves it and
    * the row is read from the committed parquet file with the same
    * footer-level machinery [[graft.Versioned]]'s merge planner
    * already uses driver-side (fileKeyRanges) — still computed from
    * the parquet inputs on every invocation, never cached. Falls back
    * to the Spark read for anything unexpected (a merge-on-read log
    * on meta, a reader gap), so behavior can only differ in job
    * count.
    */
  private def indexMeta(spark: SparkSession, root: String): (Int, Int) = {
    val table = s"$root/meta"
    val viaSpark = () => {
      val m = Versioned.current(spark, table).head()
      (m.getAs[Int]("n_sub"), m.getAs[Int]("sub_dim"))
    }
    val v = Versioned.currentVersion(spark, table).getOrElse(
      throw new IllegalStateException(
        s"uninitialized versioned table: $table"))
    try {
      val entries = Versioned.snapshotFiles(spark, table, v)
      if (entries.exists(_.startsWith("log:"))) viaSpark()
      else {
        val conf = spark.sessionState.newHadoopConf()
        entries.iterator.flatMap { rel =>
          val p = new org.apache.hadoop.fs.Path(
            if (rel.startsWith("/")) rel else s"$table/$rel")
          val reader = org.apache.parquet.hadoop.ParquetReader
            .builder(
              new org.apache.parquet.hadoop.example.GroupReadSupport(),
              p)
            .withConf(conf).build()
          try Option(reader.read()).map(g =>
            (g.getInteger("n_sub", 0), g.getInteger("sub_dim", 0)))
          finally reader.close()
        }.nextOption().getOrElse(viaSpark())
      }
    } catch { case _: Exception => viaSpark() }
  }

  /** TRAIN + PERSIST: strided coarse centroids and PQ sub-codebooks
    * from the training corpus (the n8/n14 deterministic-codebook
    * convention), full assignment + encode, all committed as
    * Versioned tables under `root`.
    */
  def initVectorIndex(embeddings: DataFrame, root: String,
      stride: Int, nSub: Int): Unit = {
    val spark = embeddings.sparkSession
    val d = embeddings.select(size(col("embedding"))).head().getInt(0)
    require(d % nSub == 0, s"dim $d not divisible into $nSub subspaces")
    val sub = d / nSub
    import spark.implicits._
    Versioned.init(
      Seq((stride, nSub, sub)).toDF("stride", "n_sub", "sub_dim"),
      s"$root/meta")
    val vecs = normed(embeddings).cache()
    val cents = vecs.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("centroid_id"), col("v").as("cv"))
    Versioned.init(cents, s"$root/cents")
    val cb = sliced(vecs.filter(col("vec_id") % stride === 0),
        nSub, sub)
      .select(col("vec_id").as("cid"), col("s"), col("vs").as("cs"))
    Versioned.init(cb, s"$root/codebook")
    Versioned.init(
      assignAgainst(vecs, Versioned.current(spark, s"$root/cents")),
      s"$root/assign")
    Versioned.init(
      encodeAgainst(sliced(vecs, nSub, sub),
        Versioned.current(spark, s"$root/codebook")),
      s"$root/codes")
    vecs.unpersist()
    ()
  }

  /** INCREMENTAL GATE: quantize `newVecs` (an `embeddings`-schema
    * batch) against the FROZEN codebooks and append to the index.
    * Vectors whose id is already indexed are skipped (replay-safe,
    * the k18 idempotence contract). Returns a 1-row report
    * (n_batch, n_appended, n_skipped).
    */
  def appendVectors(newVecs: DataFrame, root: String): DataFrame = {
    val spark = newVecs.sparkSession
    val (nSub, sub) = indexMeta(spark, root)
    val indexed = Versioned.current(spark, s"$root/assign")
      .select("vec_id")
    // novel-only, decided against the PRE-append snapshot and pinned
    // eagerly (localCheckpoint) so the appends below can't feed back
    // into their own gate through a lazy plan — the k18 lesson.
    val novel = normed(newVecs)
      .join(indexed, Seq("vec_id"), "left_anti")
      .localCheckpoint()
    val nBatch = newVecs.count()
    val nNew = novel.count()
    if (nNew > 0) {
      Versioned.mergeUpsert(
        assignAgainst(novel, Versioned.current(spark, s"$root/cents")),
        s"$root/assign", Seq("vec_id"))
      Versioned.mergeUpsert(
        encodeAgainst(sliced(novel, nSub, sub),
          Versioned.current(spark, s"$root/codebook")),
        s"$root/codes", Seq("vec_id", "s"))
      ()
    }
    import spark.implicits._
    Seq((nBatch, nNew, nBatch - nNew))
      .toDF("n_batch", "n_appended", "n_skipped")
  }

  /** DELETE from the index — the remaining CRUD leg (append = n22):
    * tombstone the given vector ids out of the inverted file and the
    * code table via MoR log deletes (O(|batch|) write, no base-file
    * rewrite; `Versioned.compact` folds the log later like any other
    * table). Serving reads are log-aware, so deleted vectors stop
    * surfacing immediately — the unindex/right-to-be-forgotten path
    * a production vector store needs without a rebuild. Codebooks
    * stay frozen (deleting members never retrains). Idempotent:
    * already-absent ids tombstone to a no-op report.
    */
  def deleteVectors(spark: SparkSession, ids: DataFrame, root: String)
      : DataFrame = {
    val assign = Versioned.current(spark, s"$root/assign")
    val victims = assign.join(ids, Seq("vec_id"), "left_semi")
      .localCheckpoint()
    val nReq = ids.select("vec_id").distinct().count()
    val nDel = victims.count()
    if (nDel > 0) {
      Versioned.mergeUpsertMoR(
        victims.withColumn("__del", lit(true)),
        s"$root/assign", Seq("vec_id"), deleteFlag = Some("__del"))
      Versioned.mergeUpsertMoR(
        Versioned.current(spark, s"$root/codes")
          .join(ids, Seq("vec_id"), "left_semi")
          .withColumn("__del", lit(true)),
        s"$root/codes", Seq("vec_id", "s"), deleteFlag = Some("__del"))
      ()
    }
    import spark.implicits._
    Seq((nReq, nDel, nReq - nDel))
      .toDF("n_requested", "n_deleted", "n_absent")
  }

  /** SERVE from the stored index: batch IVF-PQ top-k
    * ([[SimilarityOps.ivfPqTopKBatch]]'s probe → LUT → ADC plan,
    * value-identical given the same codebook convention) where the
    * assignment, codes and codebooks are READ from the Versioned
    * tables — the corpus embeddings are never touched. `queries` is
    * (query_id, qv: array&lt;double&gt;).
    */
  def servedIvfPqBatch(spark: SparkSession, root: String,
      queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val (nSub, sub) = indexMeta(spark, root)
    val cents = Versioned.current(spark, s"$root/cents")
      .withColumn("cnrm", l2Norm(col("cv")))
    val cb = Versioned.current(spark, s"$root/codebook")
    val assign = Versioned.current(spark, s"$root/assign")
    val codes = Versioned.current(spark, s"$root/codes")
    val qs = queries.withColumn("qnrm", l2Norm(col("qv")))
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cscore").desc, col("centroid_id").asc)
    val probed = qs.crossJoin(broadcast(cents))
      .select(col("query_id"), col("centroid_id"),
        round(cosinePrenormed(col("qv"), col("cv"), col("qnrm"),
          col("cnrm")), 6).as("cscore"))
      .withColumn("__rn", row_number().over(wq))
      .filter(col("__rn") <= nProbe)
      .select("query_id", "centroid_id")
    val qSlices = qs.select(col("query_id"), explode(array(
        (0 until nSub).map(s => struct(lit(s).as("s"),
          slice(col("qv"), s * sub + 1, sub).as("x"))): _*)).as("e"))
      .select(col("query_id"), col("e.s").as("s"), col("e.x").as("qsl"))
    val lut = qSlices.join(cb, Seq("s"))
      .select(col("query_id"), col("s"), col("cid"),
        round(dot(col("qsl"), col("cs")), 6).as("contrib"))
    val cand = assign.join(probed, Seq("centroid_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    cand.join(codes, Seq("vec_id"))
      .join(broadcast(lut), Seq("query_id", "s", "cid"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(round(sum(col("contrib")), 6).as("score"))
      .withColumn("__rn", row_number().over(wk))
      .filter(col("__rn") <= k)
      .drop("__rn")
      .orderBy(col("query_id").asc, col("score").desc,
        col("vec_id").asc)
  }
}
