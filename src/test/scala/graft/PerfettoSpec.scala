package graft

import scala.collection.mutable

import graft.operators.Perfetto
import graft.operators.Perfetto.PSpan

/** Decodes the binary Perfetto chunks back into a packet stream and
  * checks them against the relational packet model
  * (`m_perfetto_packets`), plus the writer's chunking protocol and a
  * golden wire-layout case. The decoder below is a genuine protobuf
  * reader (varint + tagged fields), not a replay of the encoder, so
  * agreement means the bytes really carry the claimed structure.
  */
class PerfettoSpec extends SparkSpec {

  // ---- minimal protobuf decoder ---------------------------------

  /** One decoded field: (fieldNumber, Left(varintValue) | Right(payload)). */
  private def fields(b: Array[Byte]): Seq[(Int, Either[Long, Array[Byte]])] = {
    val out = mutable.ArrayBuffer[(Int, Either[Long, Array[Byte]])]()
    var i = 0
    def varint(): Long = {
      var v = 0L; var shift = 0
      while ({ val x = b(i); i += 1; v |= (x & 0x7fL) << shift; shift += 7; (x & 0x80) != 0 }) ()
      v
    }
    while (i < b.length) {
      val tag = varint()
      val field = (tag >>> 3).toInt
      (tag & 7) match {
        case 0 => out += ((field, Left(varint())))
        case 2 =>
          val len = varint().toInt
          out += ((field, Right(b.slice(i, i + len)))); i += len
        case w => fail(s"unexpected wire type $w for field $field")
      }
    }
    out.toSeq
  }

  private def sub(fs: Seq[(Int, Either[Long, Array[Byte]])], field: Int): Seq[Array[Byte]] =
    fs.collect { case (`field`, Right(p)) => p }
  private def ints(fs: Seq[(Int, Either[Long, Array[Byte]])], field: Int): Seq[Long] =
    fs.collect { case (`field`, Left(v)) => v }
  private def str(p: Array[Byte]): String = new String(p, java.nio.charset.StandardCharsets.UTF_8)

  /** Decoded packet in the m_perfetto_packets row shape. */
  private case class Pkt(kind: String, tsNs: Long, trackUuid: Long, evType: Long,
      nameIid: Long, catIid: Long, srcIid: Long,
      newNames: Seq[(Long, String)], newCats: Seq[(Long, String)],
      newSrcs: Seq[(Long, String, Long)])

  private def decodePacket(p: Array[Byte]): Pkt = {
    val fs = fields(p)
    assert(ints(fs, 10) == Seq(1L), "trusted_packet_sequence_id must be 1")
    val dicts = sub(fs, 12).flatMap(fields(_))
    def entries2(f: Int) = sub(dicts, f).map { e =>
      val efs = fields(e); (ints(efs, 1).head, str(sub(efs, 2).head))
    }
    val newSrcs = sub(dicts, 4).map { e =>
      val efs = fields(e); (ints(efs, 1).head, str(sub(efs, 2).head), ints(efs, 4).head)
    }
    sub(fs, 60).headOption match {
      case Some(td) =>
        val tfs = fields(td)
        val uuid = ints(tfs, 1).head
        val kind =
          if (sub(tfs, 3).nonEmpty) "process_desc"
          else if (sub(tfs, 4).nonEmpty) "thread_desc"
          else "async_desc"
        Pkt(kind, -1L, uuid, 0L, -1L, -1L, -1L, Nil, Nil, Nil)
      case None =>
        val ev = fields(sub(fs, 11).head)
        val evType = ints(ev, 9).head
        Pkt(if (evType == 1) "begin" else "end", ints(fs, 8).head, ints(ev, 11).head,
          evType, ints(ev, 10).head, ints(ev, 3).head, ints(ev, 34).head,
          entries2(2), entries2(1), newSrcs)
    }
  }

  /** Split a chunk (or a whole trace) into its framed packets. */
  private def packets(chunk: Array[Byte]): Seq[Pkt] =
    sub(fields(chunk), 1).map(decodePacket)

  // ---- golden wire layout ---------------------------------------

  test("process descriptor packet has the documented wire layout") {
    val p = Perfetto.processDescriptorPacket(0x0102L, 7, "ab")
    // 50 01 = field 10 (trusted_packet_sequence_id) varint 1; then
    // field 60 LD (track_descriptor); 68 03 = field 13 varint 3;
    // field 87 varint 1 closes the packet
    val descr = p.drop(2)
    assert(p.take(2).toSeq.map(_ & 0xff) == Seq(0x50, 0x01))
    // field 60 key = 60<<3|2 = 482 → varint e2 03
    assert((descr(0) & 0xff) == 0xe2 && (descr(1) & 0xff) == 0x03)
    val pk = decodePacket(p)
    assert(pk.kind == "process_desc" && pk.trackUuid == 0x0102L)
    // round-trip the uuid through a 2-byte varint boundary value too
    val big = Perfetto.processDescriptorPacket(Long.MaxValue >>> 8, 1, "x")
    assert(decodePacket(big).trackUuid == (Long.MaxValue >>> 8))
  }

  test("varint encodes boundary values correctly") {
    assert(Perfetto.varint(0L).toSeq == Seq(0x00.toByte))
    assert(Perfetto.varint(127L).toSeq == Seq(0x7f.toByte))
    assert(Perfetto.varint(128L).toSeq.map(_ & 0xff) == Seq(0x80, 0x01))
    assert(Perfetto.varint(300L).toSeq.map(_ & 0xff) == Seq(0xac, 0x02))
  }

  // ---- encoder vs the relational packet model -------------------

  test("decoded chunks equal the m_perfetto_packets table") {
    val q = SparkEntry.queries("m_perfetto_packets")(spark, sfDir).collect()

    // encode the same process (user 9, thread track only) directly
    val spans = graft.operators.SpanAssembly.beginEndSpans(
        Tables.df(spark, sfDir, "events"), "user_id",
        graft.queries.epochMs(org.apache.spark.sql.functions.col("ts")), "event_id",
        "event_type",
        org.apache.spark.sql.functions.col("event_type").isin("signup", "view"))
      .where(org.apache.spark.sql.functions.col("user_id") === 9)
      .collect()
      .map(r => PSpan(9L, 0, r.getAs[Long]("span_id"), r.getAs[String]("name"),
        r.getAs[Long]("depth"), r.getAs[Long]("begin_ms"), r.getAs[Long]("end_ms")))

    val chunks = Perfetto.encodeProcess(9L, thread = spans.toSeq, async = Nil)
    val decoded = packets(chunks.map(_._1).fold(Array.emptyByteArray)(_ ++ _))

    assert(decoded.size == q.length, "packet count must match the relational model")
    // running interned dictionaries reconstructed from the wire
    val names = mutable.Map[Long, String]()
    decoded.zip(q).zipWithIndex.foreach { case ((d, row), i) =>
      d.newNames.foreach { case (iid, n) => names(iid) = n }
      assert(d.kind == row.getAs[String]("kind"), s"packet $i kind")
      assert(d.tsNs == row.getAs[Long]("ts_ns"), s"packet $i ts")
      assert(d.trackUuid == row.getAs[Long]("track_uuid"), s"packet $i track uuid")
      assert(d.evType == row.getAs[Long]("ev_type"), s"packet $i type")
      assert(d.nameIid == row.getAs[Long]("name_iid"), s"packet $i name_iid")
      assert(d.catIid == row.getAs[Long]("cat_iid"), s"packet $i cat_iid")
      assert(d.srcIid == row.getAs[Long]("src_iid"), s"packet $i src_iid")
      assert(d.newNames.size.toLong == row.getAs[Long]("new_name"), s"packet $i new names")
      assert(d.newCats.size.toLong == row.getAs[Long]("new_cat"), s"packet $i new cats")
      assert(d.newSrcs.size.toLong == row.getAs[Long]("new_src"), s"packet $i new srcs")
      // the wire's interned name resolves to the row's name
      if (d.evType > 0) assert(names(d.nameIid) == row.getAs[String]("name"), s"packet $i name")
    }
  }

  test("chunking protocol: descriptor flushes, 10-span groups, begin/end balance") {
    val spans = (1 to 23).map(i =>
      PSpan(1L, 0, i.toLong, s"op${i % 3}", 0L, i * 100L, i * 100L + 50L))
    val chunks = Perfetto.encodeProcess(1L, thread = spans, async = Nil)
    val counts = chunks.map(_._2)
    // process desc | thread desc | 10 spans | 10 spans | 3 spans
    assert(counts == Seq(1L, 1L, 20L, 20L, 6L))
    assert(chunks.forall(_._1.length <= 8 * 1024), "8KB threshold never exceeded here")
    val all = packets(chunks.map(_._1).fold(Array.emptyByteArray)(_ ++ _))
    val evs = all.filter(_.evType > 0)
    assert(evs.count(_.evType == 1) == evs.count(_.evType == 2))
    // timestamps non-decreasing for begins (emission is begin-ordered)
    val begins = evs.filter(_.evType == 1).map(_.tsNs)
    assert(begins == begins.sorted)
  }

  test("async track rides the same trace with shared interning") {
    val thread = Seq(PSpan(2L, 0, 1L, "alpha", 0L, 100L, 200L))
    val async = Seq(PSpan(2L, 1, 2L, "alpha", 0L, 120L, 180L),
      PSpan(2L, 1, 3L, "beta", 0L, 150L, 190L))
    val chunks = Perfetto.encodeProcess(2L, thread = thread, async = async)
    val all = packets(chunks.map(_._1).fold(Array.emptyByteArray)(_ ++ _))
    assert(all.map(_.kind).take(3) == Seq("process_desc", "thread_desc", "async_desc"))
    val evs = all.filter(_.evType > 0)
    // "alpha" interned once on the thread track, reused by the async begin
    val alphaBegins = evs.filter(e => e.evType == 1 && e.nameIid == 1L)
    assert(alphaBegins.size == 2)
    assert(alphaBegins.map(_.trackUuid).distinct.size == 2, "same name on two tracks")
    assert(evs.flatMap(_.newNames).map(_._2) == Seq("alpha", "beta"))
    // categories: thread then async
    assert(evs.flatMap(_.newCats).map(_._2) == Seq("thread", "async"))
    // source locations differ per track prefix → no accidental sharing
    assert(evs.flatMap(_.newSrcs).map(_._2) == Seq("span/alpha", "async/alpha", "async/beta"))
  }

  test("property: packet encode/decode round-trips arbitrary spans") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val nameGen = Gen.oneOf(
      Gen.alphaNumStr.suchThat(_.nonEmpty).map(_.take(12)),
      Gen.oneOf("""q"uote""", """b\slash""", "sp ace", "üñïcode-名前", "a\tb", ""))
    val spanGen = for {
      key <- Gen.chooseNum(0L, 1000L)
      n <- Gen.chooseNum(1, 25)
      names <- Gen.listOfN(n, nameGen)
      starts <- Gen.listOfN(n, Gen.chooseNum(0L, 1L << 40))
      durs <- Gen.listOfN(n, Gen.chooseNum(0L, 100000L))
      depths <- Gen.listOfN(n, Gen.chooseNum(0L, 5L))
    } yield (key, names.lazyZip(starts).lazyZip(durs).lazyZip(depths).toList.zipWithIndex.map {
      case ((nm, st, du, dp), i) => PSpan(key, 0, i.toLong, nm, dp, st, st + du)
    })
    val prop = Prop.forAll(spanGen) { case (key, spans) =>
      val chunks = Perfetto.encodeProcess(key, thread = spans, async = Nil)
      val decoded = packets(chunks.map(_._1).fold(Array.emptyByteArray)(_ ++ _))
      val evs = decoded.filter(_.evType > 0)
      val names = mutable.Map[Long, String]()
      evs.foreach(_.newNames.foreach { case (iid, n) => names(iid) = n })
      val sorted = spans.sortBy(s => (s.beginMs, s.spanId))
      // packet count, interleaving, timestamps, and name resolution
      decoded.size == 2 + 2 * spans.size &&
        evs.grouped(2).zip(sorted.iterator).forall { case (Seq(b, e), s) =>
          b.evType == 1 && e.evType == 2 &&
            b.tsNs == s.beginMs * 1000000L && e.tsNs == s.endMs * 1000000L &&
            names(b.nameIid) == s.name && b.nameIid == e.nameIid
        } &&
        // dictionary size = distinct names; iids dense 1..k
        names.keySet == (1L to spans.map(_.name).distinct.size).toSet
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(result.passed, result.status.toString)
  }

  test("m_perfetto_chunks accounting is consistent and deterministic") {
    val df = SparkEntry.queries("m_perfetto_chunks")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // chunk ids dense per process, md5 stable across a second run
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    byUser.foreach { case (_, rs) =>
      val ids = rs.map(_.getAs[Int]("chunk_id")).sorted
      assert(ids.toSeq == (0 until rs.length).toSeq)
    }
    val again = SparkEntry.queries("m_perfetto_chunks")(spark, sfDir).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }
}
