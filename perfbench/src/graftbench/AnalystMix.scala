package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.catalog.Catalog
import graft.mv.MaterializedViewManager
import graft.operators.AnnIndex
import graft.pipeline.TrainingDataPipeline

/** Read-only analyst traffic. A block is every query of the mix once, in
  * seeded order; each query is built (query function → DataFrame) and
  * executed to completion through Spark's `noop` sink. Six classes: a
  * single-table aggregate, a join, a window query, views and MVs (a
  * catalog view and an aggregate that an MV with `MvRewrite` enabled
  * reroutes to its partials), an ANN serve over the persisted index built
  * in set-up, and a corpus pass of the training-data pipeline over the
  * documents table, stage by stage. Every oracle-backed answer is dumped
  * once before the window and compared with DuckDB by `checks.py`; the
  * data is read-only, so those are the answers the timed executions
  * compute. The pipeline is checked by its incremental-dedup identity. */
final class AnalystMix(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val dir = ctx.sfDir
  private type Q = (SparkSession, String) => DataFrame

  private var cat: Catalog = _
  private val failures = mutable.ArrayBuffer.empty[String]

  private val rewriteSql =
    "SELECT o_orderstatus, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents, " +
      "COUNT(*) AS n FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"
  private val viewSql =
    "SELECT o_orderpriority, COUNT(*) AS n_open FROM orders WHERE o_orderstatus = 'O' " +
      "GROUP BY o_orderpriority ORDER BY o_orderpriority"

  /** The benchmark's own queries: (class, query, oracle SQL). */
  private def own: Map[String, (String, Q, () => String)] = Map(
    "bench_mv_rewrite_status" -> ("view_mv", { (_, _) =>
      val t = ctx.span("catalog.table")(cat.table("tpch", "orders"))
      val df = t.read().groupBy(col("o_orderstatus"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("total"), count(lit(1)).as("n"))
        .select(col("o_orderstatus"), (col("total") * 100).cast("long").as("total_cents"), col("n"))
        .orderBy(col("o_orderstatus"))
      if (ctx.tracer.enabled)
        ctx.tracer.count("mv.rewrite_hit_ratio", if (df.inputFiles.forall(_.contains("/_mv/"))) 1.0 else 0.0)
      df
    }, () => rewriteSql),
    "bench_view_open_orders" -> ("view_mv", { (_, _) =>
      ctx.span("catalog.query_view")(cat.queryView("tpch", "v_open_orders")).orderBy(col("o_orderpriority"))
    }, () => viewSql),
    "bench_ann_serve" -> ("ann_search", { (s, d) =>
      AnnIndex.serve(s, AnnIndex.defaultRoot(d))
    }, () => SparkEntry.oracleSql("q121_ivfpq_persisted")
      // q121 serves the same persisted index; its oracle names the sf0.01
      // index root until q121 itself runs
      .replace("/ann-index/sf0.01", "/ann-index/" + new java.io.File(dir).getName)))

  private val classes: Seq[(String, Seq[String])] = Seq(
    "scan_agg" -> Seq("q01_pricing_summary"),
    "join" -> Seq("q07_anti_join"),
    "window" -> Seq("q96_range_frame"))

  /** (name, class, query) for every oracle-backed query of the mix. */
  private lazy val queries: Seq[(String, String, Q)] = {
    val entry = SparkEntry.queries
    classes.flatMap { case (cls, names) => names.map(n => (n, cls, entry(n))) } ++
      own.toSeq.sortBy(_._1).map { case (n, (cls, q, _)) => (n, cls, q) }
  }
  /** The block: every query plus the corpus pass (name "corpus"). */
  private lazy val block: Seq[String] = queries.map(_._1) :+ "corpus"
  private var pending: List[String] = Nil
  override def blockDone: Boolean = pending.isEmpty

  private var docs: DataFrame = _
  /** The doc id splitting older from newer documents (70% older). */
  private var cut = 0.0

  def setup(rep: Int, last: Boolean): Unit = {
    cat = new Catalog(spark, s"${ctx.work}/catalog-$rep", "bench")
    cat.createSchema("tpch")
    cat.table("tpch", "orders").createOrReplace(graft.Tables.load(spark, dir, "orders"))
    val mvm = new MaterializedViewManager(cat)
    mvm.createAggMv("orders_by_status", ("tpch", "orders"), Seq("o_orderstatus"), Seq("o_totalprice"))
    mvm.enableRewrite("orders_by_status")
    cat.createOrReplaceView("tpch", "v_open_orders",
      viewSql.replace("FROM orders", s"FROM ${cat.qualified("tpch", "orders")}"))
    if (docs != null) docs.unpersist()
    docs = graft.Tables.load(spark, ctx.docsDir, "documents").select("doc_id", "text").persist()
    docs.count()
    cut = docs.stat.approxQuantile("doc_id", Array(0.7), 0.0)(0)
    ctx.rng.setSeed(ctx.seed)
    pending = Nil
  }

  /** One pass over the block: warms JIT and codegen, dumps each answer
    * with its oracle SQL for the out-of-process check, and checks the
    * pipeline's incremental dedup against its batch run. */
  override def prepare(): Unit = {
    ctx.span("operators.ann_build")(AnnIndex.build(spark, dir, AnnIndex.defaultRoot(dir)))
    val out = s"${ctx.work}/results"
    queries.foreach { case (name, _, q) =>
      q(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
    }
    corpus()
    val entryOracle = SparkEntry.oracleSql
    def js(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      queries.map { case (name, _, _) =>
        s"${js(name)}: ${js(own.get(name).map(_._3()).getOrElse(entryOracle(name)))}"
      }.mkString("{", ",\n", "}"))
    failures ++= pipelineIdentity()
  }

  /** (band_id, band_hash) collisions as (a_id < b_id) pairs. */
  private def pairsOf(index: DataFrame): DataFrame =
    index.groupBy("band_id", "band_hash").agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode(expr("flatten(transform(ids, (a, i) -> " +
        "transform(slice(ids, i + 2, size(ids)), b -> struct(a AS a_id, b AS b_id))))")).as("p"))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"))

  /** The corpus pass: a seeded two-thirds of the documents, split into
    * older and newer ones; the older part runs quality filter → exact dedup
    * → MinHash near-dup → token stats, each stage materialized in its
    * span; the newer part is deduplicated incrementally against the older
    * part's band index. */
  private def corpus(): Unit = {
    val salt = ctx.rng.nextLong()
    val x = docs.where(pmod(xxhash64(lit(salt), col("doc_id")), lit(3L)) =!= 0)
    val (older, newer) = (x.where(col("doc_id") <= cut), x.where(col("doc_id") > cut))
    val held = mutable.ArrayBuffer.empty[DataFrame]
    def stage(name: String, df: => DataFrame): (DataFrame, Long) = ctx.span(name) {
      val p = df.persist(); held += p; (p, p.count())
    }
    val (q, _) = stage("pipeline.quality_filter", TrainingDataPipeline.qualityFilter(older))
    val (e, _) = stage("pipeline.exact_dedup", TrainingDataPipeline.exactDedup(q).select("doc_id", "text"))
    val (nd, nKept) = stage("pipeline.near_dup",
      TrainingDataPipeline.dropNearDups(e, pairsOf(TrainingDataPipeline.buildBandIndex(e))))
    ctx.span("pipeline.token_stats")(TrainingDataPipeline.tokenStats(nd.withColumn("lang", lit("en")))
      .write.format("noop").mode("overwrite").save())
    val newKept = ctx.span("pipeline.incremental_dedup") {
      val fresh = TrainingDataPipeline.exactDedup(TrainingDataPipeline.qualityFilter(newer)).select("doc_id", "text")
      TrainingDataPipeline.incrementalDedup(fresh, TrainingDataPipeline.buildBandIndex(e))._1.count()
    }
    if (ctx.tracer.enabled)
      ctx.tracer.count("pipeline.kept_ratio", (nKept + newKept).toDouble / math.max(1L, x.count()))
    held.foreach(_.unpersist())
  }

  /** The incremental dedup of newer documents against older ones keeps
    * exactly what the batch pipeline over both keeps of the newer ones. */
  private def pipelineIdentity(): Seq[String] = {
    val (older, newer) = (docs.where(col("doc_id") <= cut), docs.where(col("doc_id") > cut))
    def clean(df: DataFrame) =
      TrainingDataPipeline.exactDedup(TrainingDataPipeline.qualityFilter(df)).select("doc_id", "text")
    val all = clean(docs)
    val batchKept = TrainingDataPipeline.dropNearDups(all, pairsOf(TrainingDataPipeline.buildBandIndex(all)))
      .join(newer.select("doc_id"), "doc_id").count()
    val incrKept = TrainingDataPipeline.incrementalDedup(clean(newer),
      TrainingDataPipeline.buildBandIndex(clean(older)))._1.count()
    val want = if (ctx.corrupt) batchKept + 1 else batchKept
    if (incrKept != want) Seq(s"incremental dedup kept $incrKept newer docs, batch pipeline $want") else Nil
  }

  def step(): Unit = {
    if (pending.isEmpty) pending = ctx.rng.shuffle(block).toList
    val name = pending.head
    pending = pending.tail
    val t0 = System.nanoTime()
    if (name == "corpus") corpus()
    else {
      val (_, cls, q) = queries.find(_._1 == name).get
      val df = ctx.span(s"operators.$cls.build")(q(spark, dir))
      ctx.span(s"operators.$cls.exec")(df.write.format("noop").mode("overwrite").save())
    }
    ctx.opLat += (System.nanoTime() - t0) / 1e9
  }

  def check(): Seq[String] = failures.toSeq
}
