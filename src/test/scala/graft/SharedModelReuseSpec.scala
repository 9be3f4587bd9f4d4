package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.models._
import graft.runner.ModelRegistry

/** Round-15 optimization pins: the shared-materialization pass changed
  * operator INTERNALS (memoized monthly-actives legs, the s08/s09
  * shared pair stream, q20's folded orders legs) — this spec pins each
  * rewrite row-identical to the formulation it replaced, independent
  * of the DuckDB oracle gate (which pins values, not the equivalence
  * argument).
  */
class SharedModelReuseSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.01"

  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(c => col(c).cast("string")): _*)
      .collect().map(_.mkString("|")).sorted.toSeq

  test("q40: injecting the materialized q34 rows equals deriving the monthly leg from the grid") {
    val r = ModelRegistry.sessionResolver(spark, sfDir)
    val grid = r("app_activity_grid")
    val fromGrid = CompositeModels.activeAccountsAppFromGrid(grid, 29)
    assert(rows(r("monthly_active_accounts")) == rows(fromGrid))
    val derived = EcosystemModels.dailySummaryByAppFrom(r("fact_txn"), grid,
      fromGrid, r("volatility_factor"), r(ModelRegistry.AppDim))
    assert(rows(r("daily_summary_by_app")) == rows(derived))
  }

  test("q39/q35: the monthly_active_ecosystem memo equals the grid-derived 30-day leg for both consumers") {
    val r = ModelRegistry.sessionResolver(spark, sfDir)
    val (fact, grid, vf) =
      (r("fact_txn"), r("app_activity_grid"), r("volatility_factor"))
    val fromGrid = EcosystemModels.activeEcosystemFromGrid(grid, 29)
    assert(rows(r("monthly_active_ecosystem")) == rows(fromGrid))
    val derived =
      EcosystemModels.dailySummaryEcosystemFrom(fact, grid, fromGrid, vf)
    assert(rows(r("daily_summary_ecosystem")) == rows(derived))
    val kreDerived = CompositeModels.dailyKreSummaryFrom(fact,
      r("active_user_balance"), vf, r("daily_payout"), fromGrid)
    assert(rows(r("daily_kre_summary")) == rows(kreDerived))
  }

  test("s08/s09: the shared cell_pair_sims stream reproduces the direct cell self-join") {
    // the direct formulation the memo replaced: assignment self-join
    // on the cell, self-pairs excluded, rounded cosine
    graft.functions.GraftFunctions.register(spark)
    val emb = graft.catalog.Tables.embeddings(spark, sfDir)
    val (_, top2) = SimilarityModels.ivfIndex(spark, sfDir)
    val assigned = top2.filter($"crk" === 1)
      .join(emb.select($"vec_id", $"label"), Seq("vec_id"))
      .select($"vec_id", $"v", $"norm", $"cid".as("cell"), $"label")
    val a = assigned.select($"vec_id".as("anchor_id"), $"v".as("a_v"),
      $"norm".as("a_norm"), $"cell", $"label".as("anchor_label"))
    val o = assigned.select($"vec_id".as("other_id"), $"v".as("o_v"),
      $"norm".as("o_norm"), $"cell", $"label".as("other_label"))
    val direct = a.join(o, Seq("cell"))
      .filter($"anchor_id" =!= $"other_id")
      .withColumn("sim", round(
        call_function("double_dot", $"a_v", $"o_v") /
          ($"a_norm" * $"o_norm"), 6)
        .cast(org.apache.spark.sql.types.DecimalType(24, 6)))
      .select($"anchor_id", $"anchor_label", $"cell",
        $"other_id", $"other_label", $"sim")
    assert(rows(SimilarityModels.cellPairSims(spark, sfDir)) == rows(direct))
  }

  test("q30: the one-scan windowed form equals the two-scan semi-join formulation") {
    // the r15 shape q30 replaced in r16: lineitem HAVING → impacted
    // orders via semi join → distinct custkeys → second orders scan
    // restricted by semi join → dense_rank latest per account
    val orders = graft.catalog.Tables.orders(spark, sfDir)
    val lineitem = graft.catalog.Tables.lineitem(spark, sfDir)
    val money = org.apache.spark.sql.types.DecimalType(18, 2)
    val multiLine = lineitem.groupBy($"l_orderkey")
      .agg(count(lit(1)).as("instruction_count"))
      .filter($"instruction_count" > 5)
      .select($"l_orderkey")
    val impactedCusts = orders
      .join(multiLine, $"o_orderkey" === $"l_orderkey", "left_semi")
      .select($"o_custkey").distinct()
    val allOrders = orders
      .join(impactedCusts.withColumnRenamed("o_custkey", "ic"),
        $"o_custkey" === $"ic", "left_semi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"o_custkey")
      .orderBy($"o_orderdate".desc, $"o_orderkey".desc)
    val twoScan = allOrders
      .withColumn("rk", dense_rank().over(w))
      .filter($"rk" === 1)
      .select($"o_custkey".as("cust_id"),
        to_date($"o_orderdate").as("latest_order_date"),
        $"o_orderkey".as("latest_order"),
        $"o_totalprice".cast(money).as("latest_total"),
        lit("2002-01-01")
          .cast(org.apache.spark.sql.types.DateType).as("flagged_date"))
    assert(rows(TpchModels.gcImpactedAccountsFrom(orders, lineitem)) ==
      rows(twoScan))
  }

  test("t16: the stage-shared idf branch equals the pruned formulation it replaced") {
    // the r16 change is a value-neutral filter(tf >= 1) that keeps the
    // count column alive so both token-stream consumers shuffle the
    // identical subtree (AQE stage reuse) — this pins the output against
    // the original unfiltered formulation
    val docs = graft.catalog.Tables.documents(spark, sfDir)
    val norm = (c: org.apache.spark.sql.Column) =>
      lower(trim(regexp_replace(c, "\\s+", " "))) // DedupModels.normText
    val tf = docs.select($"doc_id", explode(split(norm($"text"), " ")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val idf = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .withColumn("idf", round(log($"n_docs".cast("double") / $"df".cast("double")), 6)
        .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
      .select($"term", $"df", $"idf")
    val old = tf.join(idf, Seq("term"))
      .withColumn("score", ($"tf" * $"idf")
        .cast(org.apache.spark.sql.types.DecimalType(24, 6)))
      .withColumn("term_rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"doc_id")
          .orderBy($"score".desc, $"term".asc)).cast("long"))
      .filter($"term_rank" <= 3)
      .select($"doc_id", $"term_rank", $"term", $"tf", $"df", $"score")
    assert(rows(TextModels.tfidfKeywords(spark, sfDir)) == rows(old))
  }

  test("d06: the melted one-scan pair hydration equals the two-join formulation") {
    val norm = (c: org.apache.spark.sql.Column) =>
      lower(trim(regexp_replace(c, "\\s+", " "))) // DedupModels.normText
    val cand = DedupModels.lshNearDupPairs(spark, sfDir)
      .select($"doc_a", $"doc_b")
    val docs = graft.catalog.Tables.documents(spark, sfDir)
      .select($"doc_id", norm($"text").as("norm"))
    val old = cand
      .join(docs.select($"doc_id".as("doc_a"), $"norm".as("text_a")), Seq("doc_a"))
      .join(docs.select($"doc_id".as("doc_b"), $"norm".as("text_b")), Seq("doc_b"))
      .withColumn("edit_distance", levenshtein($"text_a", $"text_b").cast("long"))
      .withColumn("max_len", greatest(length($"text_a"), length($"text_b")).cast("long"))
      .withColumn("similarity",
        (expr("((max_len - edit_distance) * 1000000) div max_len")
          .cast(org.apache.spark.sql.types.DecimalType(20, 0)) *
          lit(new java.math.BigDecimal("0.000001"))
            .cast(org.apache.spark.sql.types.DecimalType(7, 6)))
          .cast(org.apache.spark.sql.types.DecimalType(24, 6)))
      .select($"doc_a", $"doc_b", $"edit_distance", $"max_len", $"similarity")
    assert(rows(DedupModels.editDistancePairs(spark, sfDir)) == rows(old))
  }

  test("d09: the one-pass collect_set aggregate equals the two-aggregate formulation") {
    graft.functions.GraftFunctions.register(spark)
    val (_, top2) = SimilarityModels.ivfIndex(spark, sfDir)
    val members = top2.filter($"crk" === 1)
      .select($"cid".as("cell"), $"vec_id", $"v", $"norm")
    val a = members.select($"cell", $"vec_id".as("id_a"), $"v".as("v_a"),
      $"norm".as("na"))
    val b = members.select($"cell", $"vec_id".as("id_b"), $"v".as("v_b"),
      $"norm".as("nb"))
    val tau = 0.4 // SemDedupTau
    val pairs = a.join(b, Seq("cell")).filter($"id_a" < $"id_b")
      .withColumn("sim", round(
        call_function("double_dot", $"v_a", $"v_b") / ($"na" * $"nb"), 6))
      .select($"cell", $"id_a", $"id_b", $"sim")
    val psum = pairs.groupBy($"cell").agg(
      count(lit(1)).as("n_pairs"),
      sum(when($"sim" >= tau, 1L).otherwise(0L)).as("n_dup_pairs"),
      max($"sim").as("max_sim"))
    val drops = pairs.filter($"sim" >= tau)
      .select($"cell", $"id_b").distinct()
      .groupBy($"cell").agg(count(lit(1)).as("nd"),
        concat_ws(",", sort_array(collect_list($"id_b"))).as("di"))
    val zero = lit(0L)
    val old = members.groupBy($"cell").agg(count(lit(1)).as("n_members"))
      .join(psum, Seq("cell"), "left")
      .join(drops, Seq("cell"), "left")
      .select($"cell", $"n_members",
        coalesce($"n_pairs", zero).as("n_pairs"),
        coalesce($"n_dup_pairs", zero).as("n_dup_pairs"),
        coalesce($"nd", zero).as("n_dropped"),
        $"max_sim".cast(org.apache.spark.sql.types.DecimalType(24, 6))
          .as("max_pair_sim"),
        coalesce($"di", lit("")).as("dropped_ids"))
    assert(rows(SimilarityModels.semanticDedup(spark, sfDir)) == rows(old))
  }

  test("q20: the folded orders aggregate equals the two-leg join it replaced") {
    val ord = graft.catalog.Tables.orders(spark, sfDir)
      .withColumn("date_key", to_date($"o_orderdate"))
    val money = org.apache.spark.sql.types.DecimalType(18, 2)
    val a = ord.groupBy($"date_key")
      .agg(count(lit(1)).as("order_count"),
        sum($"o_totalprice".cast(money))
          .cast(org.apache.spark.sql.types.DecimalType(38, 2))
          .as("total_price"))
    val b = ord.groupBy($"date_key")
      .agg(countDistinct($"o_custkey").as("distinct_customers"))
    val twoLeg = a.join(b, Seq("date_key"))
    val folded = ord.groupBy($"date_key")
      .agg(count(lit(1)).as("order_count"),
        sum($"o_totalprice".cast(money))
          .cast(org.apache.spark.sql.types.DecimalType(38, 2))
          .as("total_price"),
        countDistinct($"o_custkey").as("distinct_customers"))
    assert(rows(folded) == rows(twoLeg))
  }
}
