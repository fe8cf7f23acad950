package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.sources.PcapFixtures._

/** Seeded legacy-pcap capture generator built on the public
  * [[graft.sources.PcapFixtures]] frame builders.
  *
  * Traffic mix: a population of IPv4 TCP/UDP flows whose sizes follow a
  * Zipf law, some of them behind one 802.1Q tag or a QinQ stack; plus
  * IPv4 ICMP, IPv6 TCP/UDP/ICMPv6 and ARP frames. Frame lengths are
  * bimodal (short control-sized frames and near-MTU frames) with random
  * payload. A share of IP frames carries a Metamako trailer (some with a
  * trailing 4-byte FCS, some with a second trailer stacked on the first)
  * whose nanosecond timestamps increase monotonically with the capture
  * clock.
  *
  * No capture in the repository publishes a traffic mix, so every share
  * below is an assumption, not a measurement of real traffic. Each
  * comment names the decode path the share weights.
  *
  * The capture is rolled into `FileCount` legacy pcap files of equal packet
  * count, as capture hardware rolls files at a fixed size; the clock runs
  * on across files.
  *
  * The byte 0x65 is kept out of every generated field except the trailer's
  * seconds word (0x6553F1xx for the capture clock), so no payload window
  * can pass the trailer heuristic by accident and the expected summary is
  * exact. */
object PcapGen {
  val Packets = 200000
  /** Files the capture is rolled into. The converter reads one partition
    * per file, so the files spread a conversion over the cores; a single
    * file is one task on one core, and on a shared host one core's speed
    * drifts far more than the mean speed of all of them. */
  val FileCount = 8
  private val Forbidden = 0x65

  /** IP frames with a Metamako trailer: `PcapParser.extractTrailers`' hit
    * path, which probes backward byte by byte over the whole frame; every
    * other frame of 16 B or more costs two probes (at len and len-4). */
  val TrailerShare = 0.25
  /** Trailered frames followed by a 4-byte FCS: the len-4 retry. */
  val FcsShare = 0.10
  /** Trailered frames with a second (outer) trailer appended: a second hit
    * in the backward scan, where the first-appended trailer must win. */
  val StackedShare = 0.05
  /** ARP frames: Ethernet decode only, every column but `len` NULL. */
  val ArpShare = 0.01
  /** IPv4 ICMP frames: IPv4 decode without the port path. */
  val Icmp4Share = 0.02
  /** IPv6 frames (a tenth ICMPv6, the rest TCP and UDP 2:1): the IPv6
    * decode and hex address text. */
  val Ipv6Share = 0.08
  /** TCP among flows (the rest UDP): same port path, other protocol text. */
  val TcpShare = 0.65
  /** Flows behind one 802.1Q tag, and behind a QinQ stack: the tag walk. */
  val VlanShare = 0.08
  val QinqShare = 0.02
  /** Short frames (payload under 40 B; the rest 900-1400 B): bytes per
    * packet, so per-packet against per-byte cost, and the length of the
    * trailer scan. */
  val ShortShare = 0.70
  /** Zipf exponent of flow sizes: how often addresses and ports repeat,
    * so the Parquet dictionary and ZSTD compression ratio. */
  val ZipfS = 1.1

  final case class Expected(packets: Long, protocolCounts: Map[String, Long],
                            sumLen: Long, sumMmTs: BigInt, nMm: Long,
                            sumSrcPort: Long, sumDstPort: Long,
                            sumMmId: Long, sumMmPort: Long,
                            nSrcIp: Long, sumSrcIpChars: Long, captureBytes: Long) {
    def json: String = {
      val pc = protocolCounts.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      s"""{"packets":$packets,"protocol_counts":$pc,"sum_len":$sumLen,""" +
        s""""sum_mm_ts":"$sumMmTs","n_mm":$nMm,"sum_src_port":$sumSrcPort,""" +
        s""""sum_dst_port":$sumDstPort,"sum_mm_id":$sumMmId,"sum_mm_port":$sumMmPort,""" +
        s""""n_src_ip":$nSrcIp,"sum_src_ip_chars":$sumSrcIpChars,"capture_bytes":$captureBytes}"""
    }
  }

  /** Address text as the reference formats IPv4 (dotted quad) and as the
    * decoder documents IPv6 (eight unpadded lowercase hex groups). */
  private def dottedQuad(a: Array[Byte]): String = a.map(_ & 0xff).mkString(".")
  private def fullHex(a: Array[Byte]): String =
    (0 until 8).map(i => Integer.toHexString(((a(2 * i) & 0xff) << 8) | (a(2 * i + 1) & 0xff))).mkString(":")

  private final case class Flow(tcp: Boolean, src: Array[Byte], dst: Array[Byte],
                                sport: Int, dport: Int, tags: Seq[Int])

  /** Write the capture into directory `dir` as `FileCount` files and the
    * expected summary of all of them to `dir`/expected.json. */
  def write(seed: Long, dir: String): Expected = {
    val rnd = new java.util.Random(seed)
    def clean(n: Int): Array[Byte] = {
      val b = new Array[Byte](n)
      rnd.nextBytes(b)
      var i = 0
      while (i < n) { if ((b(i) & 0xff) == Forbidden) b(i) = 0x66; i += 1 }
      b
    }
    def cleanInt(lo: Int, hi: Int): Int = {
      var v = lo + rnd.nextInt(hi - lo)
      while (((v >> 8) & 0xff) == Forbidden || (v & 0xff) == Forbidden) v = lo + rnd.nextInt(hi - lo)
      v
    }
    def ipv4Addr(): Array[Byte] = Array.fill[Byte](4)((1 + rnd.nextInt(254)).toByte)
      .map(b => if ((b & 0xff) == Forbidden) 0x66.toByte else b)
    val wellKnown = Seq(443, 80, 53, 8080, 22, 123, 5353, 993, 3306, 6379)

    val nFlows = 5000
    val flows = Array.tabulate(nFlows) { _ =>
      val tag = rnd.nextDouble()
      Flow(rnd.nextDouble() < TcpShare, ipv4Addr(), ipv4Addr(), cleanInt(1024, 65536),
        wellKnown(rnd.nextInt(wellKnown.size)),
        if (tag < VlanShare) Seq(0x8100) else if (tag < VlanShare + QinqShare) Seq(0x88a8, 0x8100) else Nil)
    }
    // Zipf over flow ranks: a few elephant flows, a long tail of mice
    val cdf = {
      val w = (1 to nFlows).map(r => 1.0 / math.pow(r, ZipfS))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _ / tot).tail.toArray
    }
    def zipfFlow(): Flow = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      flows(math.min(if (i >= 0) i else -i - 1, nFlows - 1))
    }
    /** L4 payload length: bimodal, and chosen so no IP length field
      * byte is 0x65. */
    def payloadLen(hdr: Int): Int = {
      var n = 0
      do {
        n = if (rnd.nextDouble() < ShortShare) rnd.nextInt(40) else 900 + rnd.nextInt(500)
      } while (((hdr + n) & 0xff) == Forbidden || (((hdr + n) >> 8) & 0xff) == Forbidden)
      n
    }

    val protoCounts = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var sumLen, nMm, sumSrcPort, sumDstPort, sumMmId, sumMmPort, nSrcIp, srcIpChars = 0L
    var sumMmTs = BigInt(0)
    val frames = new Array[(Array[Byte], Long)](Packets)
    var clockNs = 0L
    val baseNs = BaseTs * 1000000000L

    var i = 0
    while (i < Packets) {
      clockNs += 1 + (-math.log(1 - rnd.nextDouble()) * 50000).toLong // ~50 µs mean gap
      val trailer = rnd.nextDouble() < TrailerShare
      // keep 0x65 out of the trailer's nanosecond word by advancing the clock
      if (trailer) {
        var ns = ((baseNs + clockNs) % 1000000000L).toInt
        var k = 0
        while (k < 4) {
          if (((ns >>> (8 * k)) & 0xff) == Forbidden) {
            clockNs += 1L << (8 * k)
            ns = ((baseNs + clockNs) % 1000000000L).toInt
            k = 0
          } else k += 1
        }
      }
      val tsSec = BaseTs + clockNs / 1000000000L
      val kind = rnd.nextDouble()
      var proto: String = null
      var ports: Option[(Int, Int)] = None
      var srcText: String = null
      val frame: Array[Byte] =
        if (kind < ArpShare) {
          ethernet(0x0806, clean(28)) // ARP: only len decodes
        } else {
          val (ipFrame, tags, etherType) =
            if (kind < ArpShare + Icmp4Share) {
              val src = ipv4Addr()
              proto = "ICMP"; srcText = dottedQuad(src)
              (ipv4(1, src, ipv4Addr(), clean(8 + payloadLen(28))), Nil, 0x0800)
            } else if (kind < ArpShare + Icmp4Share + Ipv6Share) {
              val src = clean(16)
              val dst = clean(16)
              srcText = fullHex(src)
              val which = rnd.nextDouble()
              if (which < 0.1) {
                proto = "ICMPv6"
                (ipv6(58, src, dst, clean(8 + payloadLen(8))), Nil, 0x86dd)
              } else {
                val tcp = which < 0.7
                proto = if (tcp) "TCP" else "UDP"
                val sp = cleanInt(1024, 65536)
                val dp = wellKnown(rnd.nextInt(wellKnown.size))
                ports = Some((sp, dp))
                val n = payloadLen(4)
                (ipv6(if (tcp) 6 else 17, src, dst, l4Ports(sp, dp, 0) ++ clean(n)), Nil, 0x86dd)
              }
            } else {
              val f = zipfFlow()
              proto = if (f.tcp) "TCP" else "UDP"
              srcText = dottedQuad(f.src)
              ports = Some((f.sport, f.dport))
              val n = payloadLen(24)
              (ipv4(if (f.tcp) 6 else 17, f.src, f.dst, l4Ports(f.sport, f.dport, 0) ++ clean(n)), f.tags, 0x0800)
            }
          val withTrailer =
            if (!trailer) ipFrame
            else {
              val mmNs = baseNs + clockNs
              def port(): Int = { val p = rnd.nextInt(256); if (p == Forbidden) 0x66 else p }
              def trailerOf(dev: Int, port: Int) =
                mmTrailer(mmNs / 1000000000L, (mmNs % 1000000000L).toInt, dev, port)
              val (dev, p) = (cleanInt(1, 65536), port())
              nMm += 1
              sumMmTs += mmNs
              sumMmId += dev
              sumMmPort += p
              // the outer trailer of a stack carries other device fields,
              // so the check sees which one was decoded
              val t = if (rnd.nextDouble() < StackedShare) trailerOf(dev, p) ++ trailerOf(cleanInt(1, 65536), port())
                      else trailerOf(dev, p)
              if (rnd.nextDouble() < FcsShare) ipFrame ++ t ++ clean(4) else ipFrame ++ t
            }
          tags match {
            case Nil => ethernet(etherType, withTrailer)
            case ts => ethernetStacked(ts, etherType, withTrailer)
          }
        }
      protoCounts(if (proto == null) "null" else proto) += 1
      if (srcText != null) { nSrcIp += 1; srcIpChars += srcText.length }
      ports.foreach { case (s, d) => sumSrcPort += s; sumDstPort += d }
      sumLen += frame.length
      frames(i) = (frame, tsSec)
      i += 1
    }
    Files.createDirectories(Paths.get(dir))
    val captureBytes = frames.grouped(Packets / FileCount).zipWithIndex.map { case (part, f) =>
      val bytes = pcapFile(part.toSeq)
      Files.write(Paths.get(f"$dir/capture-$f%02d.pcap"), bytes)
      bytes.length.toLong
    }.sum
    val exp = Expected(Packets, protoCounts.toMap, sumLen, sumMmTs, nMm, sumSrcPort,
      sumDstPort, sumMmId, sumMmPort, nSrcIp, srcIpChars, captureBytes)
    Files.writeString(Paths.get(s"$dir/expected.json"), exp.json)
    exp
  }
}
