package graft.sources

import java.io.ByteArrayOutputStream

import CaptureBytes._

/** A seeded corpus of adversarial captures for the decoder's
  * equivalence specs: every link layer (Ethernet with and without a
  * VLAN tag, raw IP, Linux cooked), IPv4 fragments, IPv6 extension
  * headers, ICMP/ICMPv6/ARP, HTTP heads with every header-line quirk
  * (any letter case, tabs, CR / LF / NEL line ends, values that start
  * on the next line, Latin-1 bytes, statuses past Int.MaxValue), DNS
  * with duplicate questions, compression pointers and TTLs ≥ 2^31,
  * TLS ClientHellos with non-ASCII SNI, truncated packets and random
  * bytes — in classic pcap (either byte order, µs or ns) and pcapng
  * (10^-n and 2^-n resolutions, negative timestamps, little-endian
  * sections) — plus corrupt files. Byte-stable for a given seed. */
object CaptureFuzz {

  /** `nFiles` captures named `fuzz_<i>.pcap`; a few of them corrupt. */
  def corpus(nFiles: Int, seed: Long): Seq[(String, Array[Byte])] = {
    val r = new java.util.Random(seed)
    (0 until nFiles).map { i =>
      val bytes =
        if (r.nextInt(12) == 0) corrupt(r)
        else {
          val link = Seq(1, 1, 101, 113)(r.nextInt(4))
          val pkts = Seq.fill(1 + r.nextInt(12))(truncate(r, frame(r, link)))
          if (r.nextBoolean()) classic(r, pkts, link) else pcapng(r, pkts, link)
        }
      f"fuzz_$i%03d.pcap" -> bytes
    }
  }

  private def bytes(r: java.util.Random, n: Int): Array[Byte] = {
    val b = new Array[Byte](n); r.nextBytes(b); b
  }

  private def pick[A](r: java.util.Random, xs: A*): A = xs(r.nextInt(xs.length))

  private def truncate(r: java.util.Random, p: Array[Byte]): Array[Byte] =
    if (r.nextInt(10) == 0) p.take(r.nextInt(p.length + 1)) else p

  private def frame(r: java.util.Random, link: Int): Array[Byte] = {
    val (etherType, l3) = network(r)
    link match {
      case 1 if r.nextInt(4) == 0 =>
        val o = new ByteArrayOutputStream()
        o.write(bytes(r, 12)); u16(o, 0x8100); u16(o, r.nextInt(4096)); u16(o, etherType)
        o.write(l3); o.toByteArray
      case 1 => ethernet(etherType, l3)
      case 101 => if (etherType == 0x0806) bytes(r, r.nextInt(40)) else l3
      case _ => sll(etherType, l3, pktType = r.nextInt(5))
    }
  }

  private def network(r: java.util.Random): (Int, Array[Byte]) = r.nextInt(10) match {
    case 0 => (0x0806, arpRequest())
    case 1 => (pick(r, 0x1234, 0x88cc), bytes(r, r.nextInt(30)))
    case 2 | 3 => (0x86dd, ipv6(r))
    case _ =>
      val (proto, l4) = transport(r, v6 = false)
      val ip = ipv4(proto, Array.fill(4)(r.nextInt(256)), Array.fill(4)(r.nextInt(256)),
        l4, ttl = r.nextInt(256))
      if (r.nextInt(12) == 0) { ip(6) = (r.nextInt(32) | 0x20).toByte; ip(7) = 1 } // a later fragment
      (0x0800, ip)
  }

  private def ipv6(r: java.util.Random): Array[Byte] = {
    val (proto, l4) = transport(r, v6 = true)
    val o = new ByteArrayOutputStream()
    val first = r.nextInt(4) match {
      case 0 => // hop-by-hop options, then a first fragment or a later one
        u8(o, 44); u8(o, 0); o.write(new Array[Byte](6))
        u8(o, proto); u8(o, 0); u16(o, if (r.nextInt(3) == 0) 0x0008 else 0); u32(o, 7)
        0
      case 1 => // routing header
        u8(o, proto); u8(o, 1); o.write(bytes(r, 14)); 43
      case _ => proto
    }
    o.write(l4)
    val p = ipv6Packet(first, o.toByteArray)
    if (r.nextBoolean()) { // mix zero runs into the addresses
      var i = 8
      while (i < 40) { p(i) = (if (r.nextInt(3) == 0) r.nextInt(256) else 0).toByte; i += 1 }
    }
    p
  }

  private def transport(r: java.util.Random, v6: Boolean): (Int, Array[Byte]) = r.nextInt(12) match {
    case 0 => (if (v6) 58 else 1, bytes(r, 2 + r.nextInt(10)))
    case 1 => (pick(r, 47, 132), bytes(r, r.nextInt(20)))
    case 2 | 3 => (17, udp(r.nextInt(65536), 53, dns(r)))
    case 4 => (17, udp(53, r.nextInt(65536), dns(r)))
    case 5 =>
      val msg = dns(r)
      val o = new ByteArrayOutputStream(); u16(o, msg.length); o.write(msg)
      (6, tcp(r.nextInt(65536), 53, r.nextInt(512), o.toByteArray))
    case 6 => (6, tcp(40000 + r.nextInt(1000), 443, 0x18, tls(r)))
    case 7 => (6, tcp(r.nextInt(65536), r.nextInt(65536), r.nextInt(512), bytes(r, r.nextInt(80))))
    case _ => (6, tcp(r.nextInt(65536), pick(r, 80, 8080), r.nextInt(512), http(r)))
  }

  // ------------------------------------------------------------- HTTP

  private def lineEnd(r: java.util.Random): String = pick(r, "\r\n", "\r\n", "\r\n", "\n", "\r", "\u0085")

  private def text(r: java.util.Random, n: Int): String =
    Seq.fill(n)(r.nextInt(14) match {
      case 0 => ' '
      case 1 => '\t'
      case 2 => (0xa0 + r.nextInt(96)).toChar
      case 3 => (0x0b + r.nextInt(2)).toChar // VT, FF
      case _ => (0x21 + r.nextInt(94)).toChar
    }).mkString

  private def headerName(r: java.util.Random, name: String): String =
    name.map(c => if (r.nextBoolean()) c.toUpper else c.toLower)

  private def http(r: java.util.Random): Array[Byte] = {
    val sb = new StringBuilder
    if (r.nextInt(3) == 0) {
      val status = r.nextInt(6) match {
        case 0 => "99999999999"
        case 1 => "2147483648"
        case 2 => ""
        case 3 => "20x"
        case _ => (100 + r.nextInt(500)).toString
      }
      sb ++= s"HTTP/1.${r.nextInt(2)} $status" ++= (if (r.nextBoolean()) " OK" else "")
    } else {
      sb ++= pick(r, "GET", "POST", "PUT", "DELETE", "HEAD", "OPTIONS", "PATCH", "BREW") ++= " "
      sb ++= "/" + text(r, r.nextInt(12)).replace(" ", "")
      sb ++= pick(r, " HTTP/1.1", " HTTP/1.0", "  HTTP/1.1", " HTTP/2", "")
    }
    sb ++= "\r\n"
    (0 until r.nextInt(5)).foreach { _ =>
      val name = pick(r, "Host", "User-Agent", "Accept", "X-Host")
      sb ++= headerName(r, name) ++= ":"
      sb ++= pick(r, "", " ", "  ", "\t", " \r\n ", "\r\n")
      sb ++= text(r, r.nextInt(20)) ++= pick(r, "", " ", " \t") ++= lineEnd(r)
    }
    if (r.nextBoolean()) sb ++= "\r\n" ++= text(r, r.nextInt(30))
    sb.toString.getBytes("ISO-8859-1")
  }

  // -------------------------------------------------------------- DNS

  private def label(r: java.util.Random): Array[Byte] =
    if (r.nextInt(6) == 0) bytes(r, 1 + r.nextInt(6))
    else Array.fill(1 + r.nextInt(8))(('a' + r.nextInt(26)).toByte)

  private def dns(r: java.util.Random): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    val names = Seq.fill(1 + r.nextInt(2))(Seq.fill(r.nextInt(4))(label(r)))
    val qd = 1 + r.nextInt(3)
    val an = if (r.nextInt(5) == 0) 12 else r.nextInt(4)
    u16(o, r.nextInt(65536)); u16(o, if (an > 0) 0x8180 else 0x0100)
    u16(o, qd); u16(o, an); u16(o, 0); u16(o, 0)
    (0 until qd).foreach { _ =>
      pick(r, names: _*).foreach { l => u8(o, l.length); o.write(l) }
      u8(o, 0); u16(o, pick(r, 1, 28, 5, 255, 65)); u16(o, pick(r, 1, 1, 3))
    }
    (0 until an).foreach { _ =>
      u16(o, 0xc00c) // pointer to the first question
      u16(o, 1); u16(o, 1)
      u32(o, pick(r, 300L, 0x7fffffffL, 0x80000000L, 0xffffffffL, r.nextInt(100000).toLong))
      u16(o, 4); o.write(bytes(r, 4))
    }
    o.toByteArray
  }

  // -------------------------------------------------------------- TLS

  private def tls(r: java.util.Random): Array[Byte] = r.nextInt(4) match {
    case 0 => Array[Byte](23, 3, r.nextInt(5).toByte, 0, 4) ++ bytes(r, 4)
    case 1 =>
      val sni = new String(bytes(r, 1 + r.nextInt(12)), "ISO-8859-1")
      clientHello(sni.map(c => (c & 0x7f).toChar)).updated(2, r.nextInt(5).toByte)
    case _ =>
      val sni = Seq.fill(1 + r.nextInt(3))(text(r, 1 + r.nextInt(8)).filter(_ > ' ')).mkString(".")
      val hello = clientHello("x" * sni.length)
      val raw = sni.getBytes("ISO-8859-1")
      // put the (possibly non-ASCII) name bytes where the placeholder went
      System.arraycopy(raw, 0, hello, hello.length - raw.length, raw.length)
      hello
  }

  // ------------------------------------------------------- containers

  private def classic(r: java.util.Random, pkts: Seq[Array[Byte]], link: Int): Array[Byte] = {
    val little = r.nextBoolean(); val nanos = r.nextBoolean()
    val bb = java.nio.ByteBuffer.allocate(24 + pkts.map(16 + _.length).sum)
    if (little) bb.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(if (nanos) 0xa1b23c4d else 0xa1b2c3d4); bb.putShort(2); bb.putShort(4)
    bb.putInt(0); bb.putInt(0); bb.putInt(65535); bb.putInt(link)
    pkts.foreach { p =>
      bb.putInt(pick(r, 1700000000, 0, -1, 1 + r.nextInt(Int.MaxValue)))
      bb.putInt(r.nextInt(if (nanos) 1000000000 else 1000000))
      bb.putInt(p.length); bb.putInt(p.length); bb.put(p)
    }
    bb.array()
  }

  private def pcapng(r: java.util.Random, pkts: Seq[Array[Byte]], link: Int): Array[Byte] = {
    val tsresol = pick(r, None, Some(9), Some(3), Some(0x80 | 10), Some(0x80 | 30), Some(0x80))
    val blocks = Seq(ngShb(), ngIdb(tsresol, link)) ++ pkts.map { p =>
      val ts = r.nextInt(4) match {
        case 0 => -1L - r.nextInt(1000000000)                      // negative
        case 1 => r.nextLong() >>> r.nextInt(20)
        case _ => 1757075696123456789L / (if (tsresol.isEmpty) 1000 else 1)
      }
      ngEpb(ts, p)
    }
    val file = ngFile(blocks: _*)
    if (r.nextInt(4) == 0) toLittleEndian(file) else file
  }

  /** The same pcapng section written little-endian. */
  private def toLittleEndian(be: Array[Byte]): Array[Byte] = {
    val b = be.clone()
    def swap(at: Int, n: Int): Unit = {
      var i = 0
      while (i < n / 2) { val t = b(at + i); b(at + i) = b(at + n - 1 - i); b(at + n - 1 - i) = t; i += 1 }
    }
    var pos = 0
    while (pos < b.length) {
      val typ = java.nio.ByteBuffer.wrap(be, pos, 4).getInt
      val len = java.nio.ByteBuffer.wrap(be, pos + 4, 4).getInt
      swap(pos, 4); swap(pos + 4, 4); swap(pos + len - 4, 4)
      typ match {
        case 0x0a0d0d0a => swap(pos + 8, 4); swap(pos + 12, 2); swap(pos + 14, 2)
        case 1 =>
          swap(pos + 8, 2); swap(pos + 12, 4)
          var op = pos + 16
          while (op + 4 <= pos + len - 4) {
            val olen = ((be(op + 2) & 0xff) << 8) | (be(op + 3) & 0xff)
            swap(op, 2); swap(op + 2, 2); op += 4 + ((olen + 3) & ~3)
          }
        case 6 => (0 until 5).foreach(k => swap(pos + 8 + 4 * k, 4))
        case _ => ()
      }
      pos += len
    }
    b
  }

  private def corrupt(r: java.util.Random): Array[Byte] = r.nextInt(5) match {
    case 0 => bytes(r, r.nextInt(40))
    case 1 => pcapFile(Seq(ethernet(0x0800, bytes(r, 30)))).dropRight(1 + r.nextInt(10))
    case 2 => pcapFile(Seq(ethernet(0x0800, bytes(r, 30))), linkType = 228)
    case 3 => ngFile(ngShb(), ngIdb(), ngEpb(1L, bytes(r, 20), ifId = 3))
    case _ => pcapFile(Seq(bytes(r, 20))) ++ bytes(r, 1 + r.nextInt(14))
  }
}
