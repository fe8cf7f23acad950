package perfbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile

import graft.sources.PcapParser

/** `pcap_convert`: one seeded capture, rolled into a directory of files,
  * through the reference CLI's exact invocation,
  * `graft.PcapToParquet.main(in, out)`. The only workload
  * that runs the pcap decoder, the pcap DataSource and the ZSTD Parquet
  * sink; it has no commit or materialized-view machinery. */
object PcapConvert {
  val ReferenceColumns = Seq("src_ip", "dst_ip", "len", "protocol", "src_port",
    "dst_port", "mm_ts", "mm_id", "mm_port")

  def run(h: Harness, work: String, seed: Long, seconds: Double): Workload.Outcome = {
    val spark = h.spark
    val cap = s"$work/capture"
    val out = s"$work/converted.parquet"
    val exp = PcapGen.write(seed, cap)
    h.say(f"capture: ${exp.packets} packets in ${PcapGen.FileCount} files, ${exp.captureBytes / 1e6}%.1f MB, " +
      s"${exp.nMm} Metamako trailers")

    def parts: Seq[File] =
      Option(new File(out).listFiles()).map(_.toSeq).getOrElse(Nil)
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))

    /** Footer (columns in reference order, ZSTD chunks) and content
      * (counts and sums against the generator's summary). */
    def verify(rec: OpRecord): Unit = {
      val conf = spark.sparkContext.hadoopConfiguration
      val files = parts
      h.check(rec, files.nonEmpty, "no parquet part files written")
      files.foreach { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), conf))
        try {
          val footer = r.getFooter
          val cols = footer.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSeq
          h.check(rec, cols == ReferenceColumns, s"columns ${cols.mkString(",")} in ${f.getName}")
          val codecs = footer.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec)).toSet
          h.check(rec, codecs == Set(CompressionCodecName.ZSTD), s"codecs $codecs in ${f.getName}")
        } finally r.close()
      }
      val protos = exp.protocolCounts.keys.toSeq.sorted
      val row = spark.read.parquet(out).selectExpr(Seq("count(*)", "sum(len)",
        "sum(cast(mm_ts as decimal(38,0)))", "count(mm_ts)", "sum(src_port)", "sum(dst_port)",
        "sum(mm_id)", "sum(mm_port)", "count(src_ip)", "sum(length(src_ip))") ++
        protos.map(p => if (p == "null") "count_if(protocol IS NULL)" else s"count_if(protocol = '$p')"): _*).head()
      def l(i: Int): Long = if (row.isNullAt(i)) 0L else row.getLong(i)
      val sumMm = if (row.isNullAt(2)) BigInt(0) else BigInt(row.getDecimal(2).toBigInteger)
      val got = (Seq(0, 1, 3, 4, 5, 6, 7, 8, 9) ++ protos.indices.map(_ + 10)).map(l)
      val want = Seq(exp.packets, exp.sumLen, exp.nMm, exp.sumSrcPort, exp.sumDstPort,
        exp.sumMmId, exp.sumMmPort, exp.nSrcIp, exp.sumSrcIpChars) ++ protos.map(exp.protocolCounts)
      h.check(rec, got == want && sumMm == exp.sumMmTs,
        s"aggregates ${got.mkString(",")},$sumMm != ${want.mkString(",")},${exp.sumMmTs}")
    }

    /** SHA-256 of each part file, in name order. */
    def digests(): Seq[String] = parts.sortBy(_.getName).map { f =>
      java.util.HexFormat.of().formatHex(
        java.security.MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(f.toPath)))
    }
    // The writer is deterministic for a fixed input, so an output whose
    // part files hash the same as a fully checked one is that output; any
    // other output gets the full check. Every conversion is checked, at a
    // few ms each instead of a Spark read-back.
    val checked = scala.collection.mutable.Set.empty[Seq[String]]
    def convert(): Unit = {
      val (_, rec) = h.op("convert") { graft.PcapToParquet.main(Array(cap, out)) }
      if (rec.ok) {
        val d = digests()
        if (!checked(d)) {
          verify(rec)
          if (rec.ok) checked += d
        }
      }
    }

    // Layer probes (traced rounds only): decode alone, one file per thread
    // on as many threads as the scan has cores, then the DataSource scan of
    // all 9 columns into the no-op sink.
    lazy val capBytes = Option(new File(cap).listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(_.getName.endsWith(".pcap")).sortBy(_.getName).map(f => Files.readAllBytes(f.toPath))
    lazy val decodePool = java.util.concurrent.Executors.newFixedThreadPool(h.cpus)
    def layerProbes(): Unit = {
      val files = capBytes
      val (n, dec) = h.op("pcap.decode", timedOp = false) {
        files.map(b => decodePool.submit(() => PcapParser.parseFile(b).size)).map(_.get).sum
      }
      n.foreach(k => h.check(dec, k == exp.packets, s"parseFile decoded $k packets, expected ${exp.packets}"))
      h.op("pcap.scan", timedOp = false) {
        spark.read.format("pcap").load(cap).select(ReferenceColumns.map(org.apache.spark.sql.functions.col): _*)
          .write.format("noop").mode("overwrite").save()
      }
    }

    val warmS = h.warmUp(12, 30)(convert())
    val rounds =
      try h.timedLoop(seconds) {
        convert()
        if (h.tracing) layerProbes()
      } finally if (h.traced) decodePool.shutdown()
    val conv = h.timedOk(_ == "convert").map(_.ms)
    val outBytes = parts.map(_.length).sum.toDouble
    val medS = Stats.median(conv) / 1000
    h.say(h.latencyLine(s"convert ($rounds rounds)", conv))
    h.say(s"outputs: ${checked.size} distinct, each checked by read-back")
    val detail = Map(
      "pcap.packets_per_s" -> exp.packets / medS,
      "pcap.capture_mb_per_s" -> exp.captureBytes / 1e6 / medS,
      "sink.parquet_bytes_per_capture_byte" -> outBytes / exp.captureBytes)
    h.say(f"packets_per_s ${exp.packets / medS}%.0f packets/s, capture_mb_per_s ${exp.captureBytes / 1e6 / medS}%.2f MB/s, " +
      f"parquet_bytes_per_capture_byte ${outBytes / exp.captureBytes}%.5f")
    val layers =
      if (!h.traced) Map.empty[String, Double]
      else {
        def probes(k: String) = h.records.filter(r => r.kind == k && r.ok && r.stats.isDefined).toSeq
        val scans = probes("pcap.scan")
        val scanS = Stats.median(scans.map(_.ms)) / 1000
        val decodeS = Stats.median(probes("pcap.decode").map(_.ms)) / 1000
        val convTracedS = Stats.median(h.tracedOk(_ == "convert").map(_.ms)) / 1000
        Map(
          "pcap.decode_s" -> decodeS,
          "pcap.scan_s" -> scanS,
          "pcap.row_build_s" -> (scanS - decodeS),
          "pcap.scan_tasks" -> Stats.mean(scans.flatMap(_.stats).map(_.tasks.toDouble).toSeq),
          "sink.encode_write_s" -> (convTracedS - scanS),
          "sink.bytes_written" -> outBytes,
          "sink.files" -> parts.size.toDouble) ++
          h.execMetrics(_ == "convert") ++ h.catalystMetrics(_ == "convert")
      }
    Workload.Outcome(prepS = 0.0, warmS = warmS, metrics = detail ++ layers)
  }
}
