package graftbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** The workloads, and the table that assigns each query to the module
  * (layer) whose code does its work. */
object Workloads {
  val names = Seq("queries", "sessions")

  /** One pass of a workload: every op once, in a fixed order. `only`
    * replaces the default queries or flows by the named ones, or by all of
    * them when it is `all`. */
  def pass(workload: String, spark: SparkSession, dir: String, r: Runner,
           only: Seq[String]): () => Unit = workload match {
    case "sessions" =>
      val all = new Sessions(spark, dir, r).flows
      val names = if (only == Seq("all")) all.map(_._1) else if (only.nonEmpty) only else SessionFlows
      val flows = names.map(all.toMap)
      () => flows.foreach { flow =>
        try flow() catch { case _: OpFailed => }
        r.hygiene(clearCache = true)
      }
    case _ =>
      val names = if (only == Seq("all")) SparkEntry.queries.keys.toSeq.sorted
        else if (only.nonEmpty) only else Queries
      val fns = names.map(n => n -> SparkEntry.queries(n))
      () => fns.foreach { case (n, fn) =>
        try r.frame(n, layerOf(n))(fn(spark, dir)) catch { case _: OpFailed => }
      }
  }

  /** Pipeline queries by name prefix; the first matching prefix wins and a
    * pipeline query no prefix matches is `text`. */
  private val PipelinePrefixes: Seq[(String, String)] = Seq(
    "q_pagerank" -> "graph",
    "q_multimodal" -> "multimodal",
    "q_dedup_embedding" -> "sim", "q_semdedup" -> "sim", "q_ann" -> "sim",
    "q_hard_negatives" -> "sim", "q_embed" -> "sim", "q_kmeans" -> "sim",
    "q_pq_codes" -> "sim", "q_triplets" -> "sim",
    "q_dedup" -> "dedup", "q_minhash" -> "dedup", "q_dup_" -> "dedup",
    "q_corpus_diff" -> "dedup", "q_corpus_jaccard" -> "dedup", "q_kmv_merge" -> "dedup",
    "q_repetition_ngram" -> "dedup", "q_decontaminate" -> "dedup",
    "q_contaminated" -> "dedup", "q_bloom_decon" -> "dedup", "q_fuzzy_match" -> "dedup")

  private lazy val familyLayer: Map[String, String] =
    (graft.operators.Relational.defs.map(_.name -> "relational") ++
      graft.operators.Events.defs.map(_.name -> "events") ++
      graft.explain.Explainers.defs.map(_.name -> "explain")).toMap

  def layerOf(query: String): String = familyLayer.getOrElse(query,
    PipelinePrefixes.collectFirst { case (p, l) if query.startsWith(p) => l }.getOrElse("text"))

  /** One query per layer: the one nearest its layer's median in a traced
    * run of all 200 queries at seed 0 (wall: the median of its three
    * passes), by the distance
    * |ln(wall / median wall)| + |jobs - median| / median
    * + |exchanges - median| / max(median, 1), ties broken by name. The list
    * is fixed here so that adding a query to graft does not change the
    * benchmark. */
  val Queries: Seq[String] = Seq(
    "q_asof_forward", "q_dup_shingle_frac", "q_fedex_filter_influence", "q_hard_negatives_ivf",
    "q_langid_confusion", "q_multimodal_dedup", "q_pagerank_2iter", "q_pivot")

  /** Two of the ten notebook flows, 9 cells: fedex and outlier explain
    * cells, and the core cells (describe, value counts, a groupby result,
    * the query recommender, re-scoring its top pick and auto-explore). */
  val SessionFlows: Seq[String] = Seq("houses", "recommend")
}
