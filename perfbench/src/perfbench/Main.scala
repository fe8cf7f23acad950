package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

object Workload {
  /** What a workload hands back: its set-up split (median of repeated
    * preparations, warm-up) and its workload-specific metrics. */
  final case class Outcome(prepS: Double, warmS: Double, metrics: Map[String, Double])
}

/** Benchmark JVM entry point. Run by `perfbench/run.py`, which builds the
  * classpath and turns the `PERFBENCH_RESULT` line printed here into the
  * final report. The workloads generate their own inputs from the seed.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --cpus N [--trace-out FILE]
  *   perfbench.Main --train DIR            (build step: CDS training run)
  */
object Main {
  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Class-loading training run for the build's class-data-sharing
    * archive: starts a session and touches the pcap, Parquet and graft
    * table paths once on tiny inputs. */
  private def train(dir: String): Unit = {
    val spark = graft.GraftSession.base("2")
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", s"$dir/wh")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    Files.write(Paths.get(s"$dir/golden.pcap"), graft.sources.PcapFixtures.goldenPcap)
    graft.PcapToParquet.main(Array(s"$dir/golden.pcap", s"$dir/golden.parquet"))
    spark.read.parquet(s"$dir/golden.parquet").groupBy("protocol").count().collect()
    graft.operators.TableFormat.commit(spark, s"$dir/wh/db/t",
      spark.range(100).selectExpr("id AS k", "id % 3 AS g"), 1, None, statsCol = Some("k"))
    spark.sql("SELECT g, count(*) FROM graft.db.t WHERE k < 50 GROUP BY g").collect()
    spark.stop()
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.get("train").foreach { dir => train(dir); return }
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = args("work")
    val cpus = args("cpus").toInt

    val t0 = System.nanoTime()
    val builder = workload match {
      // the reference CLI's own session settings (PcapToParquet reuses a
      // caller-owned session instead of building one)
      case "pcap_convert" =>
        SparkSession.builder().master(s"local[$cpus]").appName("pcap-to-parquet")
          // the conversion never shuffles; this sizes the read-back checks
          .config("spark.sql.shuffle.partitions", cpus.toString)
      case "table_lifecycle" =>
        graft.GraftSession.base(cpus.toString)
          .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
          .config("spark.sql.catalog.graft.warehouse", s"$work/graft_wh")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val b = builder
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
    val spark = (if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName) else b)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionS = (System.nanoTime() - t0) / 1e9

    val h = new Harness(spark, traced, cpus)
    h.say(f"$workload seed=$seed local[$cpus] session start $sessionS%.2f s")
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val outcome = workload match {
      case "pcap_convert" => PcapConvert.run(h, work, seed, seconds)
      case "table_lifecycle" => TableLifecycle.run(h, work, seed, seconds)
    }
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
    val setupS = sessionS + outcome.prepS + outcome.warmS
    h.say(f"setup_s $setupS%.3f s = session $sessionS%.2f + prep ${outcome.prepS}%.2f + warm-up ${outcome.warmS}%.2f")
    val e2e = h.endToEnd(setupS)
    val layer =
      if (!traced) Map.empty[String, Double]
      else {
        h.traceLines()
        h.tracer.write(args("trace-out"))
        h.say(s"spans written to ${args("trace-out")}")
        Map("jvm.heap_peak_mb" -> heapPeakMb, "trace.overhead_ratio" -> h.overheadRatio())
      }
    val metrics = e2e ++ outcome.metrics ++ layer
    val attempted = h.records.size
    val failed = h.records.count(!_.ok)
    h.records.filter(!_.ok).groupBy(_.kind).foreach { case (k, rs) =>
      h.say(s"FAILED $k x${rs.size}: ${rs.head.why}")
    }
    h.say(s"correctness: ${attempted - failed}/$attempted ops correct")
    val m = metrics.toSeq.sortBy(_._1).map { case (k, v) => s"${jsonStr(k)}:${if (v.isNaN || v.isInfinite) "null" else v.toString}" }
    println(s"""PERFBENCH_RESULT {"attempted":$attempted,"failed":$failed,"metrics":${m.mkString("{", ",", "}")}}""")
    spark.stop()
  }
}
