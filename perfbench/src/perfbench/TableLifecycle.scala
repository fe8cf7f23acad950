package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.TableFormat

/** `table_lifecycle`: a graft table of lineitem-shaped rows (integral
  * columns only, since MV `SUM` requires them) with one aggregate
  * materialized view, under seeded rounds of insert, delete, update,
  * refresh, MV-served aggregate, scanned aggregate and point lookup. Writes
  * run next to reads on the same table, so a write-path gain that costs
  * scans, lookups or storage shows. A seeded in-memory model of the table
  * checks every answer. */
object TableLifecycle {
  val Rows = 20000
  val InsertOrders = 40   // ~160 rows per INSERT
  val DeleteOrders = 40   // ~160 rows per DELETE
  val UpdateOrders = 50   // ~200 rows per UPDATE
  val PrepReps = 3
  val Kinds = Seq("insert", "delete", "update", "refresh", "serve", "scan", "lookup")
  private val Cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus")
  private val Schema = StructType(Cols.map(StructField(_, LongType)))
  private val RowBytes = 8L * Cols.size

  private def mvSql(t: String) =
    "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q, " +
      s"sum(l_extendedprice) AS p FROM graft.db.$t GROUP BY l_returnflag, l_linestatus"
  private def aggSql(t: String) = mvSql(t) + " ORDER BY l_returnflag, l_linestatus"

  def run(h: Harness, work: String, seed: Long, seconds: Double): Workload.Outcome = {
    val spark = h.spark
    val rnd = new java.util.Random(seed)
    // ---- seeded model + input file (input generation, not set-up) ----
    val model = mutable.LongMap.empty[ArrayBuffer[Array[Long]]]
    var nextKey = 0L
    def newOrder(): Seq[Array[Long]] = {
      val k = nextKey
      nextKey += 1 + rnd.nextInt(3)
      val lines = (1 to 1 + rnd.nextInt(7)).map { ln =>
        val qty = 1L + rnd.nextInt(50)
        Array(k, rnd.nextInt(20000).toLong, rnd.nextInt(1000).toLong, ln.toLong, qty,
          qty * (90000L + rnd.nextInt(1000000)), rnd.nextInt(11).toLong, rnd.nextInt(9).toLong,
          rnd.nextInt(3).toLong, rnd.nextInt(2).toLong)
      }
      model.getOrElseUpdate(k, ArrayBuffer.empty) ++= lines
      lines
    }
    val initial = ArrayBuffer.empty[Array[Long]]
    while (initial.size < Rows) initial ++= newOrder()
    def toDf(rows: Seq[Array[Long]]) =
      spark.createDataFrame(rows.map(r => Row.fromSeq(r.toSeq)).asJava, Schema)
    val input = s"$work/lineitem_int.parquet"
    toDf(initial.toSeq).coalesce(1).write.parquet(input)
    h.say(s"table: ${initial.size} rows, ${model.size} orders")

    // ---- set-up: bulk load + create_mv, repeated; the last table is used ----
    val wh = s"$work/graft_wh"
    val prepTimes = (0 until PrepReps).map { i =>
      val t0 = System.nanoTime()
      TableFormat.commit(spark, s"$wh/db/li$i", spark.read.parquet(input), 1, None,
        statsCol = Some("l_orderkey"))
      spark.sql(s"CALL graft.system.create_mv('db.li${i}_mv', '${mvSql(s"li$i")}')").collect()
      (System.nanoTime() - t0) / 1e9
    }
    val prepS = Stats.median(prepTimes)
    h.say(s"prep (bulk load + create_mv) x$PrepReps: ${prepTimes.map(t => f"$t%.2f").mkString(", ")} s")
    val t = s"li${PrepReps - 1}"
    val base = s"$wh/db/$t"
    val mvState = s"${t}_mv__state"

    def modelAgg: Seq[Seq[Long]] =
      model.valuesIterator.flatten.toSeq.groupBy(r => (r(8), r(9))).toSeq.sortBy(_._1)
        .map { case ((f, s), rs) => Seq(f, s, rs.size.toLong, rs.map(_(4)).sum, rs.map(_(5)).sum) }
    def rowsOf(rs: Array[Row]): Seq[Seq[Long]] = rs.toSeq.map(r => r.toSeq.map(_.asInstanceOf[Long]))
    def liveKeys: Array[Long] = model.keys.toArray.sorted

    val userBytes = mutable.Map.empty[OpRecord, Long]
    val regrouped = ArrayBuffer.empty[Double]
    val snapshotMs = ArrayBuffer.empty[Double]
    var served, hits = 0
    def snapshotRead(): Unit = if (h.tracing) {
      val (_, ms) = h.span("table.snapshot_read") {
        TableFormat.manifestEntries(spark, base, TableFormat.latestVersion(spark, base)).size
      }
      snapshotMs += ms
    }

    def round(): Unit = {
      // 1. INSERT a batch of new keys
      val batch = ArrayBuffer.empty[Array[Long]]
      (0 until InsertOrders).foreach(_ => batch ++= newOrder())
      toDf(batch.toSeq).createOrReplaceTempView("li_batch")
      val (_, ins) = h.op("insert") { spark.sql(s"INSERT INTO graft.db.$t SELECT * FROM li_batch") }
      userBytes(ins) = batch.size * RowBytes
      snapshotRead()
      // 2. DELETE a key set
      val keys = liveKeys
      val del = (0 until DeleteOrders).map(_ => keys(rnd.nextInt(keys.length))).distinct
      h.op("delete") { spark.sql(s"DELETE FROM graft.db.$t WHERE l_orderkey IN (${del.mkString(",")})") }
      del.foreach(model.remove)
      snapshotRead()
      // 3. UPDATE rows matching a key-range predicate
      val keys2 = liveKeys
      val i0 = rnd.nextInt(math.max(1, keys2.length - UpdateOrders))
      val (lo, hi) = (keys2(i0), keys2(math.min(i0 + UpdateOrders, keys2.length - 1)))
      val (_, upd) = h.op("update") {
        spark.sql(s"UPDATE graft.db.$t SET l_quantity = l_quantity + 1, l_tax = l_tax + 1 " +
          s"WHERE l_orderkey BETWEEN $lo AND $hi")
      }
      var touched = 0L
      model.foreach { case (k, rs) =>
        if (k >= lo && k <= hi) rs.foreach { r => r(4) += 1; r(7) += 1; touched += 1 }
      }
      userBytes(upd) = touched * RowBytes
      snapshotRead()
      // 4. refresh the MV
      val (ref, refRec) = h.op("refresh") { spark.sql(s"CALL graft.system.refresh_mv('db.${t}_mv')").head() }
      ref.foreach(r => if (h.timed && !r.isNullAt(4)) regrouped += r.getLong(4).toDouble)
      // 5/6. the MV's aggregate served (rewrite on) and scanned (rewrite off)
      val want = modelAgg
      spark.conf.set("spark.graft.mv.rewrite", "true")
      val (srv, srvRec) = h.op("serve") {
        val df = spark.sql(aggSql(t))
        (df, df.collect())
      }
      spark.conf.set("spark.graft.mv.rewrite", "false")
      val (scn, scnRec) = h.op("scan") { spark.sql(aggSql(t)).collect() }
      srv.foreach { case (df, rows) =>
        // the plan was optimized inside the timed op; only its text is read here
        val hit = df.queryExecution.optimizedPlan.toString.contains(mvState)
        if (h.timed) { served += 1; if (hit) hits += 1 }
        h.check(srvRec, hit, "served aggregate did not read the MV state table")
        h.check(srvRec, rowsOf(rows) == want, s"served ${rowsOf(rows)} != model $want")
      }
      scn.foreach(rows => h.check(scnRec, rowsOf(rows) == want, s"scanned ${rowsOf(rows)} != model $want"))
      for ((_, a) <- srv; b <- scn)
        h.check(srvRec, rowsOf(a) == rowsOf(b), "served aggregate differs from scanned aggregate")
      // 7. point lookup of one live key
      val keys3 = liveKeys
      val k = keys3(rnd.nextInt(keys3.length))
      val (lk, lkRec) = h.op("lookup") { spark.sql(s"SELECT * FROM graft.db.$t WHERE l_orderkey = $k").collect() }
      lk.foreach { rows =>
        val got = rowsOf(rows).sortBy(_(3))
        val exp = model(k).map(_.toSeq).sortBy(_(3)).toSeq
        h.check(lkRec, got == exp, s"lookup $k: $got != $exp")
      }
    }

    val warmS = h.warmUp(5, 6)(round())
    val v0 = TableFormat.latestVersion(spark, base)
    val rounds = h.timedLoop(seconds)(round())
    val (cnt, cntRec) = h.op("final_count", timedOp = false) {
      spark.sql(s"SELECT count(*) FROM graft.db.$t").head().getLong(0)
    }
    val live = model.valuesIterator.map(_.size.toLong).sum
    cnt.foreach(c => h.check(cntRec, c == live, s"final live rows $c != model $live"))

    // ---- metrics ----
    val v = TableFormat.latestVersion(spark, base)
    val entries = TableFormat.manifestEntries(spark, base, v)
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def size(p: String): Long = {
      val path = if (p.startsWith("/") || p.contains(":")) new Path(p) else new Path(base, p)
      fs.getFileStatus(path).getLen
    }
    val storedBytes = entries.map(e => size(e.path) + e.dv.map(size).getOrElse(0L)).sum
    val perKind = Kinds.map(k => k -> h.timedOk(_ == k).map(_.ms))
    h.say(s"$rounds timed rounds; table at version $v, ${entries.size} data files, $live live rows")
    perKind.foreach { case (k, ms) => h.say(h.latencyLine(k, ms)) }
    val detail = perKind.filter(_._2.nonEmpty).map { case (k, ms) => s"lifecycle.${k}_p50_ms" -> Stats.median(ms) }.toMap +
      ("table.stored_bytes_per_live_row" -> storedBytes.toDouble / live)
    h.say(f"stored_bytes_per_live_row ${storedBytes.toDouble / live}%.2f bytes/row")
    val layers =
      if (!h.traced) Map.empty[String, Double]
      else {
        def st(k: String) = h.tracedOk(_ == k).flatMap(_.stats)
        val writes = Seq("insert", "delete", "update").flatMap(k => h.tracedOk(_ == k))
        val perOp = Kinds.flatMap { k =>
          val s = st(k)
          Seq(s"exec.$k.jobs" -> Stats.mean(s.map(_.jobs.toDouble)),
            s"exec.$k.task_s" -> Stats.mean(s.map(_.taskMs / 1000.0)),
            s"driver.$k.gap_ms" -> Stats.mean(s.map(_.gapMs)),
            s"table.fs_read_ops.$k" -> Stats.mean(s.map(_.fsRead.toDouble)),
            s"table.fs_write_ops.$k" -> Stats.mean(s.map(_.fsWrite.toDouble)),
            s"table.fs_list_ops.$k" -> Stats.mean(s.map(_.fsList.toDouble)))
        }
        val wBytes = writes.flatMap(_.stats).map(_.bytesWritten).sum.toDouble
        val uBytes = writes.map(r => userBytes.getOrElse(r, 0L)).sum.toDouble
        Map(
          "table.snapshot_read_ms" -> Stats.mean(snapshotMs.toSeq),
          "table.bytes_written_per_user_byte" -> (if (uBytes > 0) wBytes / uBytes else 0.0),
          "table.versions" -> (v - v0).toDouble / rounds,
          "table.data_files" -> entries.size.toDouble,
          "mv.refresh_jobs" -> Stats.mean(st("refresh").map(_.jobs.toDouble)),
          "mv.refresh_task_s" -> Stats.mean(st("refresh").map(_.taskMs / 1000.0)),
          "mv.refresh_gap_ms" -> Stats.mean(st("refresh").map(_.gapMs)),
          "mv.rows_regrouped" -> Stats.mean(regrouped.toSeq),
          "mv_rewrite.hit_ratio" -> (if (served > 0) hits.toDouble / served else 0.0),
          "mv_rewrite.optimization_ms" -> Stats.mean(st("serve").map(_.phaseMs("optimization"))),
          "lookup.scan_tasks" -> Stats.mean(st("lookup").map(_.tasks.toDouble)),
          "lookup.fs_read_ops" -> Stats.mean(st("lookup").map(_.fsRead.toDouble))) ++
          perOp ++ h.execMetrics(Kinds.contains) ++ h.catalystMetrics(Kinds.contains)
      }
    Workload.Outcome(prepS = prepS, warmS = warmS, metrics = detail ++ layers)
  }
}
