package perfbench

import graft.{Staging, Tables}
import graft.ext.Dedup
import graft.ml.{Classifiers, FeaturePipeline, Recsys}
import graft.ops.RelationalOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Registered queries rebuilt from the same public `Dedup` / `Recsys` /
  * `Classifiers` calls they make, with one span per call, so the traced
  * run can split a query's time by library step. The harness checks the
  * rows each composition returns in the traced passes against the output
  * of the registered query it stands for, so the two cannot drift apart.
  *
  * A composition also names counters that are data properties rather than
  * timings (candidate and verified pairs); they are counted outside the
  * timed passes, each from the composition's collected rows or by one
  * more job. */
object Composed {

  final case class Built(df: DataFrame, counters: Map[String, Seq[Row] => Long])

  type Fn = (SparkSession, String, Spans) => Built

  val byQuery: Map[String, Fn] = Map(
    "q87_minhash_production" -> q87,
    "q103_incremental_dedup" -> q103,
    "qml50_als_topk" -> qml50,
    "qml54_fmreg" -> qml54,
    "qml55_model_io" -> qml55,
    "qml58_als_grid" -> qml58)

  private def truthPairs(docs: DataFrame, span: Spans): DataFrame = {
    val sh = span("Dedup.shingles")(Dedup.shingles(docs, "doc_id", "text", 3))
    span("Dedup.jaccard")(Dedup.jaccardPairs(sh, "doc_id", maxDf = 1000L))
      .filter(col("jaccard") >= 0.9)
  }

  private def signatures(docs: DataFrame, span: Spans): DataFrame =
    span("Dedup.signatures")(Dedup.minhashBucketsRowLocal(docs, "doc_id",
      "text", n = 3, numHashes = 24, rowsPerBand = 3))

  private def q87(s: SparkSession, d: String, span: Spans): Built = {
    val docs = Tables.documents(s, d)
    val prod = span("Dedup.candidates")(
      Dedup.minhashCandidates(signatures(docs, span), "doc_id"))
    val truth = truthPairs(docs, span)
    val df = truth
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .join(prod.withColumn("caught", lit(true)), Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"), col("jaccard"),
        coalesce(col("caught"), lit(false)).as("caught"))
      .orderBy("id_a", "id_b")
    Built(df, Map(
      "candidate_pairs" -> (_ => prod.count()),
      "verified_pairs" -> (_.count(_.getAs[Boolean]("caught")).toLong)))
  }

  private def q103(s: SparkSession, d: String, span: Spans): Built = {
    val docs = Tables.documents(s, d)
    val corpus = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
    val corpusSig = signatures(corpus, span)
    val batchSig = signatures(batch, span)
    val cands = span("Dedup.candidates")(
      Dedup.incrementalCandidates(corpusSig, batchSig, "doc_id"))
    val odd = pmod(col("id_a"), lit(2)) === 1
    val truth = truthPairs(docs, span)
      .filter(pmod(col("id_a"), lit(2)) =!= pmod(col("id_b"), lit(2)))
      .select(
        when(odd, col("id_a")).otherwise(col("id_b")).as("new_id"),
        when(odd, col("id_b")).otherwise(col("id_a")).as("old_id"),
        round(col("jaccard"), 6).as("jaccard"))
    val df = truth
      .join(cands.withColumn("caught", lit(true)), Seq("new_id", "old_id"), "left")
      .select(col("new_id"), col("old_id"), col("jaccard"),
        coalesce(col("caught"), lit(false)).as("caught"))
      .orderBy("new_id", "old_id")
    Built(df, Map(
      "candidate_pairs" -> (_ => cands.count()),
      "verified_pairs" -> (_.count(_.getAs[Boolean]("caught")).toLong)))
  }

  private def qml50(s: SparkSession, d: String, span: Spans): Built = {
    import s.implicits._
    val ratings = RelationalOps.materialized(Tables.ratings(s, d))
    val fit = span("Recsys.fitAls")(Recsys.fitAls(ratings, "user_id",
      "item_id", "rating", rank = 8, regParam = 0.1, maxIter = 5))
    val names = Tables.part(s, d)
      .select(col("p_partkey").as("item_id"), col("p_name").as("item_name"))
    val recs = span("Recsys.recommendTopK")(Recsys.recommendTopK(fit.model, k = 5))
      .join(broadcast(names), Seq("item_id"), "left")
      .select("user_id", "rank", "item_id", "item_name", "score")
    // the registered query's per-user audit of the top-k frame
    val w = Window.partitionBy("user_id").orderBy("rank")
    val audited = recs.withColumn("prev_score", lag(col("score"), 1).over(w))
      .groupBy("user_id").agg(
        count(lit(1)).as("n"),
        (min("rank") === 1 && max("rank") === 5 &&
          countDistinct("rank") === 5).as("ranks_ok"),
        sum(when(col("prev_score").isNotNull &&
          col("score") > col("prev_score"), 1L).otherwise(0L)).as("inversions"),
        sum(when(col("item_name").isNull, 1L).otherwise(0L)).as("unnamed"))
    val known = ratings.select("user_id").distinct().withColumn("known", lit(1))
    val verdict = audited.join(known, Seq("user_id"), "left").agg(
      count(lit(1)).as("n_audited_users"),
      coalesce(sum(when(col("n") =!= 5 || !col("ranks_ok"), 1L)
        .otherwise(0L)), lit(0L)).as("bad_rank_users"),
      coalesce(sum(col("inversions")), lit(0L)).as("score_inversions"),
      coalesce(sum(col("unnamed")), lit(0L)).as("n_unnamed"),
      coalesce(sum(when(col("known").isNull, 1L).otherwise(0L)),
        lit(0L)).as("n_unknown_users"))
    val row = verdict.crossJoin(
        ratings.agg(countDistinct("user_id").as("n_users_total")))
      .select(col("n_users_total"), col("n_audited_users"),
        col("bad_rank_users"), col("score_inversions"),
        col("n_unnamed"), col("n_unknown_users"))
      .as[(Long, Long, Long, Long, Long, Long)].head()
    ratings.unpersist()
    Built(Seq((5, row._1, row._2 * 2 >= row._1 + 1, row._3, row._4,
        row._5, row._6))
      .toDF("k", "n_users_total", "coverage_ok", "bad_rank_users",
        "score_inversions", "n_unnamed", "n_unknown_users"), Map.empty)
  }

  /** The registered queries' bounded labeled frame (MlQueries.labeled). */
  private def labeled(s: SparkSession, d: String, span: Spans): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"))
    val p = Tables.part(s, d)
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
    val joined = li.join(p, li("l_partkey") === p("p_partkey"))
      .withColumn("buckets", when(col("l_quantity") < 25, 0.0).otherwise(1.0))
    val bounded = joined
      .withColumn("uid", xxhash64(joined.columns.map(col).toIndexedSeq: _*))
      .orderBy("uid").limit(50000)
    span("FeaturePipeline.assembleAndScale")(
      FeaturePipeline.assembleAndScale(bounded, Seq("l_extendedprice",
        "l_discount", "l_tax", "p_retailprice", "p_size")))
  }

  private def qml54(s: SparkSession, d: String, span: Spans): Built = {
    import s.implicits._
    val r = span("Classifiers.fit")(Classifiers.fmRegression(
      labeled(s, d, span), "scaled_features", "l_quantity", maxIter = 10))
    Built(Seq((r.model, r.nTrain + r.nTest, r.nPred == r.nTest,
        r.value1 >= 0.0, r.value2 <= 1.0 + 1e-12))
      .toDF("model", "n_rows", "pred_parity_ok", "rmse_nonneg", "r2_le_1"),
      Map.empty)
  }

  private def qml55(s: SparkSession, d: String, span: Spans): Built = {
    import s.implicits._
    val df = labeled(s, d, span).persist()
    val (fitted, reloaded) = span("Classifiers.fit")(
      Classifiers.saveLoadRoundtrip(df, "scaled_features", "buckets",
        Staging.dir("model", d)))
    // the registered query's prediction parity of the two models
    val a = fitted.transform(df).select(col("uid"), col("prediction").as("p1"))
    val b = reloaded.transform(df).select(col("uid"), col("prediction").as("p2"))
    val (nRows, nDiff) = a.join(b, Seq("uid")).agg(
        count(lit(1)).as("n_rows"),
        coalesce(sum(when(col("p1") =!= col("p2"), 1L).otherwise(0L)),
          lit(-1L)).as("n_diff"))
      .as[(Long, Long)].head()
    df.unpersist()
    Built(Seq((nRows, nDiff)).toDF("n_rows", "n_diff"), Map.empty)
  }

  private def qml58(s: SparkSession, d: String, span: Spans): Built = {
    import s.implicits._
    val bounded = Tables.ratings(s, d)
      .orderBy("user_id", "item_id").limit(100000)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = bounded.count()
    val ranks = Seq(8, 12)
    val regs = Seq(0.1, 0.01)
    val r = span("Recsys.fitAlsGrid")(Recsys.fitAlsGrid(bounded, "user_id",
      "item_id", "rating", ranks = ranks, regParams = regs, maxIter = 5))
    bounded.unpersist()
    Built(Seq((n, ranks.contains(r.bestRank), regs.contains(r.bestRegParam),
        r.rmse >= 0.0, r.r2 <= 1.0 + 1e-12))
      .toDF("n_rows", "best_rank_in_grid", "best_reg_in_grid",
        "rmse_nonneg", "r2_le_1"), Map.empty)
  }
}
