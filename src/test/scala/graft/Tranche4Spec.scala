package graft

import org.apache.spark.sql.functions._

/** Semantic invariants for the round-3 tranche-4 operators (value
  * exactness is the oracle gate's job; these pin the semantics the
  * oracle can't see, e.g. "the block really is the busiest one").
  */
class Tranche4Spec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sfDir)

  test("m_parse_block returns exactly the busiest block") {
    val rows = run("m_parse_block").collect()
    assert(rows.nonEmpty)
    val keys = rows.map(r => (r.getAs[String]("process_id"),
      r.getAs[String]("stream_tag"), r.getAs[Long]("block_start_ms"))).distinct
    assert(keys.length === 1, "parse_block must return a single block")
    // recompute the busiest block independently
    val e = Tables.df(spark, sfDir, "events")
    val ms = unix_millis(col("ts").cast("timestamp"))
    val top = e.groupBy(col("user_id").cast("string").as("p"), col("event_type").as("t"),
        (ms - pmod(ms, lit(60000L))).as("b"))
      .count().orderBy(col("count").desc, col("p"), col("t"), col("b")).head()
    assert(keys.head === ((top.getString(0), top.getString(1), top.getLong(2))))
    assert(rows.length.toLong === top.getLong(3))
  }

  test("m_block_payload md5/length match a locally recomputed payload") {
    val bp = run("m_block_payload")
    // independent recomputation of one block's payload on the driver
    val sample = bp.orderBy(col("nb_objects").desc, col("process_id")).head()
    val (p, t, b) = (sample.getAs[String]("process_id"),
      sample.getAs[String]("stream_tag"), sample.getAs[Long]("block_start_ms"))
    val lines = Tables.df(spark, sfDir, "events")
      .where(col("user_id").cast("string") === p && col("event_type") === t)
      .select(col("event_id"), unix_millis(col("ts").cast("timestamp")).as("ms"),
        col("value"), col("props"))
      .where((col("ms") - pmod(col("ms"), lit(60000L))) === b)
      .collect()
      .sortBy(_.getAs[Long]("event_id"))
      .map { r =>
        val cents = math.floor(r.getAs[Double]("value") * 100.0).toLong
        s"${r.getAs[Long]("event_id")}:$t:$cents:${r.getAs[String]("props")}"
      }
    val payload = lines.mkString("\n")
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(payload.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(sample.getAs[String]("payload_md5") === md)
    assert(sample.getAs[Long]("payload_bytes") === payload.length.toLong)
    assert(sample.getAs[Long]("nb_objects") === lines.length.toLong)
  }

  test("m_net_spans: kind/connection derivation and positive spans") {
    val rows = run("m_net_spans").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val kind = r.getAs[String]("kind")
      val name = r.getAs[String]("name")
      assert(if (name == "signup") kind == "connect" else kind == "request")
      assert(r.getAs[String]("connection_name") ===
        s"conn-${r.getAs[String]("process_id").toLong % 4}")
      assert(r.getAs[Long]("duration_ms") >= 0L)
      assert(r.getAs[Boolean]("is_outgoing") === (r.getAs[Long]("span_id") % 2 == 0))
    }
  }

  test("m_export_log covers every event with the view's level mapping") {
    val out = run("m_export_log")
    val n = Tables.df(spark, sfDir, "events").count()
    assert(out.count() === n)
    val levels = out.select("level").distinct().collect().map(_.getInt(0)).toSet
    assert(levels.subsetOf(Set(2, 4, 5)))
  }

  test("l_cluster_assign picks the true integer-L2 argmin") {
    val asn = run("l_cluster_assign").collect()
      .map(r => r.getAs[Long]("vec_id") -> (r.getAs[Long]("cluster"), r.getAs[Long]("idist"))).toMap
    // recompute quantized vectors on the driver for a full check
    val vecs = Tables.df(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v")).collect()
      .map { r =>
        val v = r.getAs[scala.collection.Seq[Double]]("v").toArray
        val sc = math.max(v.map(math.abs).max / 127.0, 1e-12)
        // half-away-from-zero, matching DuckDB std::round / graft_round
        def rnd(x: Double): Long =
          (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toLong
        r.getAs[Long]("vec_id") -> v.map(x => rnd(x / sc))
      }.toMap
    val cents = (0L until 8L).map(i => i -> vecs(i))
    assert(asn.size === vecs.size)
    vecs.foreach { case (id, q) =>
      val dists = cents.map { case (cid, cq) =>
        (cid, q.zip(cq).map { case (a, b) => (a - b) * (a - b) }.sum)
      }
      val best = dists.minBy { case (cid, d) => (d, cid) }
      assert(asn(id) === best, s"vec $id")
    }
  }

  test("l_semantic_dedup: kept set has no within-cluster pair above tau") {
    val kept = run("l_semantic_dedup").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cluster")))
    val asnAll = run("l_cluster_assign").collect()
    assert(kept.length < asnAll.length, "some vectors must actually be dropped")
    // every cluster retains its minimum vec_id
    val minPerCluster = asnAll.groupBy(_.getAs[Long]("cluster"))
      .map { case (c, rs) => (rs.map(_.getAs[Long]("vec_id")).min, c) }
    minPerCluster.foreach { p => assert(kept.contains(p), s"cluster min $p dropped") }
  }

  test("l_mixture_weights: weights in (0,1], budgets bounded by tokens") {
    val rows = run("l_mixture_weights").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val w = r.getAs[Double]("weight")
      assert(w > 0.0 && w <= 1.0)
      assert(r.getAs[Long]("budget_tokens") <= r.getAs[Long]("tokens"))
    }
    // sources are complete
    val n = Tables.df(spark, sfDir, "documents").select("source").distinct().count()
    assert(rows.length.toLong === n)
  }
}
