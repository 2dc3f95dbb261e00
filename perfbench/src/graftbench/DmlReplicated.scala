package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.bcdr.ReplicationService
import graft.catalog.Catalog
import graft.mv.MaterializedViewManager
import graft.services.MaintenanceService
import graft.warehouse.SnapshotTable

/** Live keys with O(1) insert, delete and uniform draw. */
final class KeySet {
  private val keys = mutable.ArrayBuffer.empty[Long]
  private val pos = mutable.HashMap.empty[Long, Int]
  def add(k: Long): Unit = if (!pos.contains(k)) { pos(k) = keys.size; keys += k }
  def remove(k: Long): Unit = pos.remove(k).foreach { i =>
    val last = keys.remove(keys.size - 1)
    if (i < keys.size) { keys(i) = last; pos(last) = i }
  }
  def draw(rng: scala.util.Random): Long = keys(rng.nextInt(keys.size))
  def clear(): Unit = { keys.clear(); pos.clear() }
}

/** The write path with BCDR replication. One writer against a range-laid,
  * orders-shaped table in a primary catalog. A block is 15 statements:
  * twelve single-key MoR deletes, one 256-key delete (either side of the
  * 64-key in-process delete-key capture bound), one append and one MoR
  * upsert (see [[newBlock]] for their order), each followed by a point
  * read of a touched key (read-your-writes). Each block ends with a CDC mirror leg, an
  * incremental MV refresh, a maintenance sweep, a physical refresh to one
  * secondary and an incremental (logical) refresh to another, a read on
  * the physical secondary and `validatePhysical`.
  * The run ends with a promote → first read → failback drill. The
  * operation timed is the statement's commit. Checked: the final table
  * against an in-memory replay of the statements, the mirror, the MV and
  * both secondaries against the primary. */
final class DmlReplicated(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._
  private val spark = ctx.spark
  private val nRows = if (ctx.small) 2000 else 20000
  private val batchKeys = 256
  private val schema = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DecimalType(15, 2))))

  /** key → (custkey, status, price in cents): the replay the table is checked against. */
  private val model = mutable.HashMap.empty[Long, (Long, String, Long)]
  private val live = new KeySet
  private var nextKey = 0L
  private var cat: Catalog = _
  private var tbl: SnapshotTable = _
  private var mirror: SnapshotTable = _
  private var mvm: MaterializedViewManager = _
  private var maint: MaintenanceService = _
  private var phys: Catalog = _
  private var logical: Catalog = _
  private var replP: ReplicationService = _
  private var replL: ReplicationService = _
  private val group = Seq(("sales", "orders"))
  private val keys = Map(("sales", "orders") -> Seq("o_orderkey"))
  private var mirrorOffset = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private val refreshModes = mutable.ArrayBuffer.empty[String]
  private var bytesWritten = 0L

  private def toRow(k: Long, v: (Long, String, Long)): Row =
    Row(k, v._1, v._2, new java.math.BigDecimal(java.math.BigInteger.valueOf(v._3), 2))
  private def frame(rows: Seq[(Long, (Long, String, Long))]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (k, v) => toRow(k, v) }: _*), schema)
  private def randomRow(): (Long, String, Long) =
    (1L + ctx.rng.nextInt(1500), Seq("F", "O", "P")(ctx.rng.nextInt(3)), 100000L + ctx.rng.nextInt(50000000))
  private def freshKey(): Long = { nextKey += 4; nextKey }

  private def build(root: String, n: Int): Unit = {
    val dir = s"$root/primary"
    model.clear(); nextKey = 0L; pending = Nil
    val rng0 = new scala.util.Random(ctx.seed * 31 + 7)
    val init = (0 until n).map { _ =>
      nextKey += 4
      nextKey -> (1L + rng0.nextInt(1500), Seq("F", "O", "P")(rng0.nextInt(3)),
        100000L + rng0.nextInt(50000000).toLong)
    }
    init.foreach { case (k, v) => model(k) = v }
    live.clear(); model.keys.toSeq.sorted.foreach(live.add)
    cat = new Catalog(spark, dir, "dml")
    cat.createSchema("sales")
    tbl = cat.table("sales", "orders")
    tbl.createOrReplace(frame(init).repartitionByRange(8, $"o_orderkey"), sortBy = Seq("o_orderkey"))
    mirror = cat.table("sales", "orders_mirror")
    mirror.createOrReplace(tbl.read())
    mirrorOffset = tbl.currentSnapshotId.get
    mvm = new MaterializedViewManager(cat)
    mvm.createAggMv("orders_by_status", ("sales", "orders"), Seq("o_orderstatus"), Seq("o_totalprice"))
    maint = new MaintenanceService(cat)
    phys = new Catalog(spark, s"$root/phys", "phys")
    phys.readOnly = true
    logical = new Catalog(spark, s"$root/logical", "logical")
    logical.readOnly = true
    replP = new ReplicationService(cat, phys)
    replP.createGroup("core", group, includeViews = false)
    replL = new ReplicationService(cat, logical)
    replL.createGroup("core", group, includeViews = false)
    replP.refreshPhysical("core")
    replL.refreshIncremental("core", keys)
    ctx.rng.setSeed(ctx.seed)
  }

  /** One statement of each kind and the block-end legs on a small
    * throwaway fixture, so JIT and codegen are warm for every code path
    * before the first timed statement. */
  override def warm(): Unit = {
    build(s"${ctx.work}/dml-warm", 1024)
    pending = List(0, 1, 2, 3)
    while (pending.nonEmpty) step()
    ctx.opLat.clear(); ctx.samples.clear(); failures.clear(); refreshModes.clear(); bytesWritten = 0L
  }

  def setup(rep: Int, last: Boolean): Unit = build(s"${ctx.work}/dml-$rep", nRows)

  private def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L) else f.length()
    walk(new java.io.File(path))
  }

  /** Time one DML statement as the operation; in traced runs also record
    * the bytes it wrote and the delete-chain gauges it leaves behind. */
  private def commit[T](name: String)(body: => T): T = {
    val before = if (ctx.tracer.enabled) dirBytes(tbl.root) else 0L
    val t0 = System.nanoTime()
    val r = ctx.span(name)(body)
    ctx.opLat += (System.nanoTime() - t0) / 1e9
    if (ctx.tracer.enabled) {
      bytesWritten += math.max(0L, dirBytes(tbl.root) - before)
      ctx.tracer.count("warehouse.pending_delete_batches_max", tbl.pendingDeleteBatches().toDouble)
      ctx.tracer.count("warehouse.live_dirs_max", tbl.liveSnapshotDirs().size.toDouble)
    }
    r
  }

  /** Read one key back; the answer must equal the replay. */
  private def readYourWrite(k: Long): Unit = {
    val t0 = System.nanoTime()
    val (df, plan) = ctx.span("warehouse.read_build")(tbl.readWhere($"o_orderkey" === lit(k)))
    val rows = ctx.span("warehouse.read_exec")(df.collect())
    ctx.sample("read_after_write", (System.nanoTime() - t0) / 1e9)
    if (plan.filesTotal > 0) ctx.tracer.count("warehouse.files_kept_ratio", plan.filesKept.toDouble / plan.filesTotal)
    val got = rows.map(r => (r.getLong(1), r.getString(2), r.getDecimal(3).unscaledValue.longValue)).toSeq
    val want = model.get(k).toSeq
    if (got != want && failures.size < 5) failures += s"key $k read $got, replay has $want"
  }

  /** One block: the seed shuffles nine single-key deletes, the append and
    * the upsert; the 256-key delete always comes twelfth, followed by
    * three single-key deletes. Single deletes after a batch above the
    * capture bound are slower, so a fixed batch position keeps every
    * run's mix of the two cases the same. */
  private def newBlock(): List[Int] = (ctx.rng.shuffle(Seq.fill(9)(0) ++ Seq(2, 3)) ++ Seq(1, 0, 0, 0)).toList
  private var pending: List[Int] = Nil
  override def blockDone: Boolean = pending.isEmpty

  def step(): Unit = {
    if (pending.isEmpty) pending = newBlock()
    val kind = pending.head
    pending = pending.tail
    val touched: Long =
      if (kind == 0) {
        val k = live.draw(ctx.rng)
        commit("warehouse.delete_by_keys")(tbl.deleteByKeys(Seq("o_orderkey"), Seq(k).toDF("o_orderkey")))
        model.remove(k); live.remove(k); k
      } else if (kind == 1) {
        val ks = Seq.fill(batchKeys)(live.draw(ctx.rng)).distinct
        commit("warehouse.delete_by_keys_batch")(tbl.deleteByKeys(Seq("o_orderkey"), ks.toDF("o_orderkey")))
        ks.foreach { k => model.remove(k); live.remove(k) }; ks.head
      } else if (kind == 2) {
        val rows = Seq.fill(16)(freshKey() -> randomRow())
        commit("warehouse.append")(tbl.append(frame(rows)))
        rows.foreach { case (k, v) => model(k) = v; live.add(k) }; rows.head._1
      } else {
        val rows = (Seq.fill(6)(live.draw(ctx.rng)).distinct ++ Seq.fill(2)(freshKey())).map(_ -> randomRow())
        commit("warehouse.upsert_by_keys")(tbl.upsertByKeys(frame(rows), Seq("o_orderkey")))
        rows.foreach { case (k, v) => model(k) = v; live.add(k) }; rows.head._1
      }
    readYourWrite(touched)
    if (pending.isEmpty) { mirrorLeg(); sweep(); replicate() }
  }

  /** Ship the block to both secondaries; the physical one must then serve
    * the primary's head. Time from the block's last commit acknowledged
    * to that read is one replication cycle (the RPO proxy). */
  private def replicate(): Unit = {
    val t0 = System.nanoTime()
    val head = tbl.currentSnapshotId.get
    val before = if (ctx.tracer.enabled) dirBytes(phys.warehouse) else 0L
    val shipped = ctx.span("bcdr.refresh_physical")(replP.refreshPhysical("core"))
    ctx.tracer.count("bcdr.entries_shipped", shipped.toDouble)
    if (ctx.tracer.enabled) ctx.tracer.count("bcdr.bytes_shipped", (dirBytes(phys.warehouse) - before).toDouble)
    ctx.span("bcdr.refresh_incremental")(replL.refreshIncremental("core", keys))
    val served = phys.table("sales", "orders")
    if (!served.currentSnapshotId.contains(head) && failures.size < 5)
      failures += s"physical secondary head ${served.currentSnapshotId} != primary $head"
    ctx.span("warehouse.read_exec")(served.read().agg(count(lit(1))).collect())
    ctx.sample("repl_cycle", (System.nanoTime() - t0) / 1e9)
    replP.lagMs("core").foreach(l => ctx.tracer.count("bcdr.lag_ms_max", l.toDouble))
    validate("block end")
  }

  private def validate(when: String): Unit = {
    val bad = ctx.span("bcdr.validate_physical")(replP.validatePhysical("core").collect())
      .filter(_.getAs[String]("verdict") != "MATCH")
    if (bad.nonEmpty && failures.size < 5) failures += s"$when: validatePhysical mismatch"
  }

  private def fingerprint(t: SnapshotTable): (Long, Long) = {
    val r = t.read().agg(count(lit(1)),
      sum(pmod(xxhash64(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice")),
        lit(1000000007L)))).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** A planned-failover drill: promote the physical secondary, read it,
    * let it take one write, fail back and hand the roles back. */
  override def finish(): Unit = {
    val want = fingerprint(tbl)
    val t0 = System.nanoTime()
    ctx.span("bcdr.promote")(replP.promote())
    val got = ctx.span("bcdr.first_read")(fingerprint(phys.table("sales", "orders")))
    ctx.sample("failover", (System.nanoTime() - t0) / 1e9)
    if (got != want) failures += s"promoted secondary reads $got, primary had $want"
    val row = freshKey() -> randomRow()
    phys.table("sales", "orders").append(frame(Seq(row)))
    model(row._1) = row._2
    ctx.span("bcdr.failback")(replP.failback("core"))
    cat.readOnly = false
    phys.readOnly = true
    val (a, b) = (fingerprint(tbl), fingerprint(phys.table("sales", "orders")))
    if (a != b) failures += s"after failback primary $a != secondary $b"
  }

  private def mirrorLeg(): Unit = {
    val head = tbl.currentSnapshotId.get
    if (head != mirrorOffset) {
      val cs = ctx.span("warehouse.row_changes")(tbl.rowChangesBetween(mirrorOffset, head))
      cs match {
        case Some(c) => ctx.span("warehouse.apply_changes")(mirror.applyChanges(c.df, Seq("o_orderkey")))
        case None => ctx.span("warehouse.apply_changes")(mirror.createOrReplace(tbl.asOf(head)))
      }
      mirrorOffset = head
    }
    refreshModes += ctx.span("mv.refresh_incremental")(mvm.refreshIncremental("orders_by_status"))
  }

  private def sweep(): Unit = {
    val (compacted, _) = ctx.span("services.maintenance_sweep")(maint.sweep())
    ctx.tracer.count("services.sweep_compacted", compacted.toDouble)
  }

  def check(): Seq[String] = {
    if (ctx.corrupt) model.headOption.foreach { case (k, (c, s, cents)) => model(k) = (c, s, cents + 1) }
    mirrorLeg()
    validate("end of run")
    val fails = mutable.ArrayBuffer.empty[String] ++ failures
    def rowsOf(df: DataFrame) = df.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getString(2), r.getDecimal(3).unscaledValue.longValue)).toMap
    val got = rowsOf(tbl.read().select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"))
    if (got != model.toMap) {
      val diff = (got.keySet ++ model.keySet).filter(k => got.get(k) != model.get(k)).take(3)
      fails += s"final table differs from the replay on ${(got.keySet ++ model.keySet).count(k => got.get(k) != model.get(k))} keys, e.g. " +
        diff.map(k => s"$k: table ${got.get(k)} replay ${model.get(k)}").mkString("; ")
    }
    val mirrored = rowsOf(mirror.read().select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"))
    if (mirrored != got) fails += s"CDC mirror has ${mirrored.size} rows, source ${got.size}; contents differ"
    val mvRows = mvm.read("orders_by_status").collect()
      .map(r => r.getAs[String]("o_orderstatus") -> (r.getAs[Long]("n_rows"),
        r.getAs[java.math.BigDecimal]("sum_o_totalprice").unscaledValue.longValue)).toMap
      .filter(_._2._1 != 0L)
    val want = model.values.groupBy(_._2).map { case (s, vs) => s -> (vs.size.toLong, vs.map(_._3).sum) }
    if (mvRows != want) fails += s"MV orders_by_status $mvRows differs from the replay $want"
    replL.refreshIncremental("core", keys)
    val (p, l) = (fingerprint(tbl), fingerprint(logical.table("sales", "orders")))
    if (p != l) fails += s"logical secondary $l != primary $p"
    fails.toSeq
  }

  override def layers(): Map[String, Double] = {
    val liveBytes = {
      val p = s"${ctx.work}/dml-fresh"
      tbl.read().write.mode("overwrite").parquet(p)
      new java.io.File(p).listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
    }
    val raw = ctx.samplesOf("read_after_write")
    val nonNoop = refreshModes.count(_ != "noop")
    Map(
      "warehouse.bytes_written" -> bytesWritten.toDouble,
      "warehouse.stored_bytes_per_live_byte" -> dirBytes(tbl.root).toDouble / math.max(1L, liveBytes),
      "mv.incremental_ratio" -> (if (nonNoop == 0) 0.0 else refreshModes.count(_ == "incremental").toDouble / nonNoop),
      "detail.read_after_write_p50_s" -> Stats.median(raw),
      "detail.read_after_write_p90_s" -> Stats.quantile(raw, 0.9),
      "detail.repl_cycle_s" -> Stats.median(ctx.samplesOf("repl_cycle")),
      "detail.failover_s" -> Stats.median(ctx.samplesOf("failover")))
  }
}
