package graftbench

import graft.core.{AutoExplore, ExplainFrame, QueryRecommender}
import graft.explain.ManyToOne
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The ten pd-explain notebook flows of graft's notebook parity suite,
  * replayed as cell sequences (operate → explain → recommend). Each
  * output-producing cell is one op; an `explain(...)` call is layer
  * `explain`, every other cell (value counts, describe, groupby results,
  * recommender, auto-explore) is layer `core`.
  *
  * After each cell the flow checks the contract the parity suite asserts
  * on that cell's output: sizes, descending rankings and finite scores.
  * The runner adds that a cell's output is identical on every replay.
  */
final class Sessions(spark: SparkSession, dir: String, r: Runner) {
  private val Explain = "explain"
  private val Core = "core"

  private def t(name: String): DataFrame = graft.util.D.t(spark, dir, name)

  private def scores(rows: Array[Row], c: String): Seq[Double] =
    rows.map(x => x.getDouble(x.fieldIndex(c))).toSeq

  private def ranked(rows: Array[Row], c: String): Boolean = {
    val v = scores(rows, c)
    v.forall(x => !x.isNaN && !x.isInfinite) && v == v.sorted(Ordering[Double].reverse)
  }

  /** A non-empty explanation of at most `max` rows ranked by `c`. */
  private def explained(rows: Array[Row], c: String, max: Int = Int.MaxValue): Unit =
    r.check(rows.nonEmpty && rows.length <= max && ranked(rows, c),
      s"expected 1..$max rows ranked desc by finite $c")

  private def scoreCol(rows: Array[Row]): String =
    rows.head.schema.fieldNames.find(n => n == "score" || n.endsWith("score")).get

  private def countsDesc(rows: Array[Row]): Unit = {
    val c = rows.map(_.getLong(1)).toSeq
    r.check(rows.nonEmpty && c == c.sorted(Ordering[Long].reverse), "value counts ranked desc")
  }

  val flows: Seq[(String, () => Unit)] = Seq(
    "adults" -> adults _, "churners" -> churners _, "metainsight" -> metaInsight _,
    "many_to_one" -> manyToOne _, "spotify_join" -> spotifyJoin _,
    "metainsight_events" -> metaInsightEvents _, "recommend" -> recommend _,
    "spotify_fedex" -> spotifyFedex _, "churners_fedex" -> churnersFedex _,
    "houses" -> houses _)

  private def adults(): Unit = {
    val adults = ExplainFrame(t("customer"), "customer")
    val ex1 = r.frame("adults.groupby_explain", Explain)(
      adults.groupBy("c_nationkey").mean("c_acctbal").explain(topK = 4, useSampling = true))
    explained(ex1, "zdev", 4)
    val ex2 = r.frame("adults.filter_explain", Explain)(
      adults.filter(col("c_mktsegment") === "BUILDING").explain(topK = 4, useSampling = false))
    explained(ex2, "kl_score", 4)
    val seniors = adults.filter(col("c_acctbal") >= 5000)
    val vc = r.frame("adults.value_counts", Core)(seniors.valueCounts("c_mktsegment"))
    countsDesc(vc)
    r.check(math.abs(vc.map(_.getDouble(2)).sum - 1.0) < 1e-6, "value count shares sum to 1")
    val ex3 = r.frame("adults.outlier_explain", Explain)(
      seniors.groupBy("c_mktsegment").agg("c_custkey" -> "count")
        .explain(explainer = "outlier", target = vc.head.getString(0), dir = "high"))
    explained(ex3, "influence")
  }

  private def churners(): Unit = {
    val bank = ExplainFrame(t("orders"), "orders")
    val desc = r.frame("churners.describe", Core)(bank.describeStats(Seq("o_totalprice")))
    r.check(desc.length == 1 && desc.head.getAs[Long]("n") > 0 &&
      desc.head.getAs[Double]("min_v") <= desc.head.getAs[Double]("mean") &&
      desc.head.getAs[Double]("mean") <= desc.head.getAs[Double]("max_v"), "one describe row")
    val ex1 = r.frame("churners.outlier_explain", Explain)(
      bank.groupBy("o_orderpriority").agg("o_orderkey" -> "count")
        .explain(explainer = "outlier", target = "1-URGENT", dir = "high"))
    explained(ex1, "influence")
    val females = bank.filter(col("o_orderstatus") === "F")
    countsDesc(r.frame("churners.value_counts", Core)(females.valueCounts("o_orderpriority")))
    val ex2 = r.frame("churners.filtered_outlier_explain", Explain)(
      females.groupBy("o_orderpriority").agg("o_orderkey" -> "count")
        .explain(explainer = "outlier", target = "1-URGENT", dir = "high"))
    explained(ex2, "influence")
    val limitByAge = ExplainFrame(t("lineitem"), "lineitem")
      .filter(col("l_quantity") <= 40).groupBy("l_linenumber").mean("l_extendedprice")
    val ex3 = r.frame("churners.sampled_groupby_explain", Explain)(
      limitByAge.explain(topK = 3, useSampling = true))
    explained(ex3, "zdev", 3)
    val ex4 = r.frame("churners.outlier_low_explain", Explain)(
      limitByAge.explain(explainer = "outlier", target = "3", dir = "low"))
    r.check(ex4.nonEmpty, "non-empty outlier-low explanation")
  }

  private def metaInsight(): Unit = {
    val orders = ExplainFrame(t("orders"), "orders")
    val m1 = r.frame("metainsight.auto_filtered", Explain)(
      orders.filter(col("o_totalprice") > 100000).explain(explainer = "metainsight"))
    explained(m1, scoreCol(m1))
    val m2 = r.frame("metainsight.auto_groupby", Explain)(
      orders.groupBy("o_orderstatus", "o_orderpriority").mean("o_totalprice")
        .explain(explainer = "metainsight"))
    r.check(m2.nonEmpty, "non-empty metainsight patterns")
    val m3 = r.frame("metainsight.full_scope", Explain)(
      ExplainFrame(t("lineitem"), "lineitem").explain(explainer = "metainsight", topK = 5,
        filterColumns = Seq("l_returnflag"), groupbyColumns = Seq("l_linestatus", "l_linenumber"),
        aggregations = Seq("l_quantity", "l_extendedprice"), minCommonness = 0.15,
        useAllGroupbyCombinations = true))
    explained(m3, scoreCol(m3), 5)
  }

  private def manyToOne(): Unit = {
    val cust = t("customer")
    def key(x: Row) = (x.getAs[String]("label"), x.getAs[String]("val_a"), x.getAs[String]("val_b"))
    val conj = r.frame("many_to_one.conj", Explain)(
      ManyToOne.explainConj(cust, "c_mktsegment", "c_nationkey", "c_acctbal", 0.3, 0.95, 10))
    r.check(conj.nonEmpty && conj.forall(x => x.getAs[Double]("coverage") >= 0.0 &&
      x.getAs[Double]("separation_err") >= 0.0), "conjunctive rules with valid scores")
    val disj = r.frame("many_to_one.disj", Explain)(
      ManyToOne.explainDisj(cust, "c_mktsegment", "c_nationkey", "c_acctbal",
        covTh = 0.3, sepTh = 0.95))
    val byKey = conj.map(x => key(x) -> x).toMap
    val shared = disj.flatMap(x => byKey.get(key(x)).map(x -> _))
    r.check(disj.nonEmpty && shared.nonEmpty && shared.forall { case (d, c) =>
      d.getAs[Long]("n_match") >= c.getAs[Long]("n_match") &&
        d.getAs[Double]("coverage") >= c.getAs[Double]("coverage") - 1e-9
    }, "disjunctive rules dominate conjunctive rules on shared cells")
    val viaDispatch = r.frame("many_to_one.dispatch", Explain)(
      ExplainFrame(cust, "customer").explain("many_to_one", labelCol = "c_mktsegment",
        catAttrs = Seq("c_nationkey"), numAttrs = Seq("c_acctbal"),
        coverageThreshold = 0.3, separationThreshold = 0.95, explanationForm = "disj"))
    r.check(viaDispatch.map(_.toString).toSeq == disj.map(_.toString).toSeq,
      "dispatch returns the library function's rows")
  }

  private def spotifyJoin(): Unit = {
    val songs = ExplainFrame(t("lineitem"), "lineitem")
    explained(r.frame("spotify_join.filter_explain", Explain)(
      songs.filter(col("l_extendedprice") > 80000).explain()), "kl_score", 3)
    val gbDecade = songs.filter(col("l_shipdate").cast("date") >= lit("1995-01-01").cast("date"))
      .groupBy("l_returnflag").mean("l_extendedprice")
    explained(r.frame("spotify_join.groupby_explain", Explain)(gbDecade.explain()), "zdev", 3)
    explained(r.frame("spotify_join.outlier_explain", Explain)(
      gbDecade.explain(explainer = "outlier", target = "R", dir = "low")), "influence")
    val hot = r.frame("spotify_join.frequent_artists", Core)(
      songs.groupBy("l_suppkey").count().df.filter(col("l_suppkey_count") >= 600)
        .select("l_suppkey")).map(_.getLong(0)).toSeq
    r.check(hot.nonEmpty, "some frequent artists")
    val frequent = songs.filter(col("l_suppkey").isin(hot: _*))
    val gbArtist = frequent.groupBy("l_suppkey").mean("l_extendedprice")
      .filter(col("l_extendedprice_mean") > 53000)
    val ex4 = r.frame("spotify_join.join_explain", Explain)(
      frequent.filter(col("l_discount") > 0.05).join(gbArtist, on = Seq("l_suppkey"))
        .explain(topK = 3))
    explained(ex4, "kl_score", 3)
    r.check(ex4.forall(x => x.getString(x.fieldIndex("attribute")) == "l_extendedprice_mean"),
      "join explain scores the right side's attribute")
  }

  private def metaInsightEvents(): Unit = {
    val events = ExplainFrame(t("events").withColumn("weekday", date_format(col("ts"), "EEEE"))
      .select("event_type", "weekday", "value"), "events")
    val dims = Set("event_type", "weekday")
    val m1 = r.frame("metainsight_events.auto_filtered", Explain)(
      events.filter(col("value") > 0).explain(explainer = "metainsight"))
    explained(m1, "score")
    r.check(m1.forall(x => dims(x.getString(x.fieldIndex("filter_dim"))) &&
      dims(x.getString(x.fieldIndex("breakdown")))), "scopes inside the frame's dimensions")
    explained(r.frame("metainsight_events.auto_groupby", Explain)(
      events.groupBy("event_type", "weekday").mean("value").explain(explainer = "metainsight")),
      "score")
    val m3 = r.frame("metainsight_events.full_scope", Explain)(
      events.explain(explainer = "metainsight", topK = 5, filterColumns = Seq("event_type"),
        groupbyColumns = Seq("weekday"), aggregations = Seq("value"), minCommonness = 0.15))
    explained(m3, "score", 5)
  }

  private def recommend(): Unit = {
    val urgent = ExplainFrame(t("lineitem"), "lineitem").filter(col("l_returnflag") === "R")
    val recSchema = StructType(Seq(StructField("query", StringType), StructField("score", DoubleType)))
    var top: Option[QueryRecommender.Candidate] = None
    val recs = r.local("recommend.recommend", Core) {
      val rs = QueryRecommender.recommendCandidates(urgent, topK = 3)
      top = rs.headOption.map(_._1)
      rs.map { case (c, s) => new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array[Any](c.display, s), recSchema): Row }
    }
    r.check(recs.length == 3 && ranked(recs, "score"), "three recommendations ranked desc")
    val rescored = r.local("recommend.rescore_top", Core)(
      Seq(Row(QueryRecommender.score(top.get.frame))))
    r.check(rescored.head.getDouble(0) == recs.head.getDouble(1),
      "re-scoring the applied top candidate reproduces its score")
    val steps = r.local("recommend.auto_explore", Core) {
      val ef = ExplainFrame(t("customer").select("c_acctbal", "c_nationkey", "c_mktsegment"),
        "customer")
      AutoExplore.explore(ef, iterations = 2).steps
        .map(s => Row(s.iteration, s.kind, s.query, s.score))
    }
    r.check(steps.nonEmpty, "a non-empty exploration")
  }

  private def spotifyFedex(): Unit = {
    val songs = ExplainFrame(t("lineitem")
      .withColumn("decade", (floor(year(col("l_shipdate")) / 10) * 10).cast("long")), "songs")
    val popular = songs.filter(col("l_extendedprice") > 30000)
    val ex1 = r.frame("spotify_fedex.filter_explain", Explain)(
      popular.explain(topK = 2, useSampling = false))
    explained(ex1, "kl_score", 2)
    val gbDecade = songs.filter(year(col("l_shipdate")) >= 1995)
      .groupBy("decade").mean("l_extendedprice")
    val decades = r.frame("spotify_fedex.decade_means", Core)(gbDecade.df)
    r.check(decades.nonEmpty, "some decades")
    val loDecade = decades.map(_.getLong(0)).min.toString
    val ex2 = r.frame("spotify_fedex.outlier_explain", Explain)(
      gbDecade.explain(explainer = "outlier", target = loDecade, dir = "low"))
    explained(ex2, "influence")
    val songs2 = songs.select(col("*"), (col("l_returnflag") === "R").as("is_by_artist"))
    val vc = r.frame("spotify_fedex.value_counts", Core)(songs2.valueCounts("is_by_artist"))
    r.check(vc.length == 2, "two truth values counted")
    val byArtist = songs2.filter(col("is_by_artist"))
    val artistSongs = byArtist.select(col("l_suppkey")).dropDuplicates()
      .join(byArtist, on = Seq("l_suppkey"))
    val means = r.frame("spotify_fedex.artist_means", Core)(
      artistSongs.groupBy("l_suppkey").mean("l_extendedprice").df)
    val counts = r.frame("spotify_fedex.artist_counts", Core)(
      artistSongs.groupBy("l_suppkey").count().df)
    r.check(means.length == counts.length &&
      counts.map(_.getLong(1)).sum == vc.find(_.getBoolean(0)).get.getLong(1),
      "the dedup join keeps each flagged song once")
    val exS = r.frame("spotify_fedex.shapley_explain", Explain)(
      artistSongs.explain(explainer = "shapley", value = "mean", attr = "l_extendedprice",
        consider = "left", useSampling = false))
    r.check(exS.nonEmpty && exS.forall(x => x.getString(x.fieldIndex("attribute")) ==
      "l_extendedprice" && !x.getDouble(x.fieldIndex("shapley")).isNaN), "finite shapley values")
    val ex1b = r.frame("spotify_fedex.filter_explain_top3", Explain)(
      popular.explain(topK = 3, useSampling = false))
    r.check(ex1b.length >= ex1.length &&
      ex1b.take(ex1.length).map(_.toString).toSeq == ex1.map(_.toString).toSeq,
      "the wider re-explain extends the ranking")
    val ex2b = r.frame("spotify_fedex.outlier_rerun", Explain)(
      gbDecade.explain(explainer = "outlier", target = loDecade, dir = "low"))
    r.check(ex2b.map(_.toString).toSeq == ex2.map(_.toString).toSeq, "re-run cell is identical")
  }

  private def churnersFedex(): Unit = {
    val bank = ExplainFrame(t("lineitem"), "bank")
    val ex1 = r.frame("churners_fedex.pinned_filter_explain", Explain)(
      bank.where(col("l_quantity") > 25)
        .explain(attributes = Seq("l_discount", "l_returnflag"), useSampling = false))
    explained(ex1, "kl_score")
    r.check(ex1.forall(x => Set("l_discount", "l_returnflag")(x.getString(x.fieldIndex("attribute")))),
      "only the pinned attributes")
    val loyal = bank.filter(col("l_returnflag") === "N")
    val churn = bank.filter(col("l_returnflag") =!= "N")
    val x = r.frame("churners_fedex.loyal_mean", Core)(loyal.df.agg(avg(col("l_discount"))))
      .head.getDouble(0)
    explained(r.frame("churners_fedex.threshold_explain", Explain)(
      churn.filter(col("l_discount") > x).explain(topK = 3, useSampling = false)), "kl_score", 3)
    val ex3 = r.frame("churners_fedex.multi_agg_explain", Explain)(
      churn.groupBy("l_linestatus").agg("l_extendedprice" -> "mean", "l_extendedprice" -> "max",
        "l_tax" -> "mean").explain(topK = 2, useSampling = false))
    r.check(ex3.nonEmpty && ex3.length <= 2 && ex3.forall(x => Set("l_extendedprice_mean",
      "l_extendedprice_max", "l_tax_mean", "row_count")(x.getString(x.fieldIndex("measure")))),
      "measures from the aggregation cell")
    explained(r.frame("churners_fedex.three_key_explain", Explain)(
      churn.groupBy("l_linestatus", "l_returnflag", "l_linenumber").mean("l_tax")
        .explain(topK = 5, useSampling = false)), "zdev", 5)
    val gb3 = churn.select(col("*"), (col("l_discount") > 0.05).cast("long").as("over_thresh"))
      .groupBy("l_linenumber", "l_returnflag", "l_linestatus")
      .agg("l_tax" -> "mean", "over_thresh" -> "sum")
    val rows = r.frame("churners_fedex.custom_agg", Core)(gb3.df)
    r.check(rows.nonEmpty && rows.forall(x => x.getDouble(x.fieldIndex("over_thresh_sum")) >= 0),
      "custom aggregation rows")
    r.check(r.frame("churners_fedex.custom_agg_explain", Explain)(
      gb3.explain(useSampling = false)).nonEmpty, "non-empty explanation")
  }

  private def houses(): Unit = {
    val houses = ExplainFrame(t("lineitem")
      .withColumn("yr_sold", year(col("l_shipdate")).cast("long"))
      .withColumn("pool_area", (col("l_discount") * 1000).cast("double")), "houses")
      .select(col("yr_sold"), col("l_extendedprice"), col("l_quantity"), col("pool_area"),
        col("l_tax"), col("l_returnflag"), col("l_linestatus"), col("l_linenumber"))
    val desc = r.frame("houses.describe", Core)(houses.describeStats(Seq("l_extendedprice")))
    r.check(desc.exists(_.getString(0) == "l_extendedprice"), "a price describe row")
    explained(r.frame("houses.filter_explain", Explain)(
      houses.filter(col("l_extendedprice") > 40000).explain(topK = 6, useSampling = false)),
      "kl_score", 6)
    val ex2 = r.frame("houses.all_numerics_explain", Explain)(
      houses.groupBy("yr_sold").agg("l_extendedprice" -> "mean", "l_quantity" -> "mean",
        "pool_area" -> "mean", "l_tax" -> "mean").explain(topK = 6, useSampling = false))
    r.check(ex2.nonEmpty && ex2.length <= 6 && ex2.forall(x => Set("l_extendedprice_mean",
      "l_quantity_mean", "pool_area_mean", "l_tax_mean", "row_count")(
      x.getString(x.fieldIndex("measure")))), "measures from the aggregation")
    val poolGb = houses.groupBy("yr_sold").mean("pool_area")
    val hiYear = r.frame("houses.pool_by_year", Core)(poolGb.df).map(_.getLong(0)).max.toString
    explained(r.frame("houses.outlier_explain", Explain)(
      poolGb.explain(explainer = "outlier", dir = "high", target = hiYear)), "influence")
    countsDesc(r.frame("houses.value_counts", Core)(houses.valueCounts("l_linenumber")))
  }
}
