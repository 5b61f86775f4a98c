package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, Expression, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import scala.util.control.NonFatal

/** Analyzer rule mirroring the reference's TableScanRewrite
  * (reference: rust/analytics/src/lakehouse/table_scan_rewrite.rs):
  * when a session declares a query time range, every scan exposing an
  * event-time column is wrapped in `time >= begin AND time < end` —
  * so ad-hoc queries are automatically range-scoped and the predicate
  * reaches the parquet scan (row-group pruning; partition pruning on a
  * date-partitioned layout).
  *
  * Configure per session (microseconds since epoch, UTC):
  *   spark.conf.set("spark.graft.queryRange.beginMicros", ...)
  *   spark.conf.set("spark.graft.queryRange.endMicros", ...)
  *   spark.conf.set("spark.graft.queryRange.column", "ts")  // default
  *
  * Injected as a resolution rule (GraftExtensions) so the normal
  * optimizer batches push the added Filter into the source afterwards.
  *
  * Idempotency is two-layered. A tag on each Filter THIS RULE creates
  * marks it final — later re-analyses (derived Datasets re-run the
  * analyzer, possibly under a different live range) must not stack a
  * second, conflicting range on top. (Tagging the scan LEAF would be
  * wrong — a self-join shares one leaf instance across both sides and
  * would lose its second wrap; each side gets its own injected Filter,
  * so tagging those is safe.) The structural check — scan directly
  * under a Filter semantically containing the range conjuncts — backs
  * the tag up for plan copies that drop tags.
  */
case class TimeRangeRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val conf = spark.conf
    // A thread-local range (per-query, set by Graft.query) is
    // AUTHORITATIVE while present — including the explicit
    // "unranged query" state, which must not inherit a static conf
    // range. The conf channel only applies when no query() is in
    // flight on this thread. Mixing bounds from the two channels is
    // never allowed.
    val tlRange = QueryRange.get
    val (begin, end) = tlRange match {
      case Some((b, e)) => (b, e)
      case None => (
        conf.getOption("spark.graft.queryRange.beginMicros").map(_.toLong),
        conf.getOption("spark.graft.queryRange.endMicros").map(_.toLong))
    }
    // An EXPLICITLY unranged query() must stay unranged even when its
    // derived Datasets are re-analyzed later under a live static conf
    // range. The decision is recorded as a tagged no-op Filter(true)
    // above each time leaf — it must live in THIS query's plan
    // instance, never as a tag on the leaf itself: temp views share one
    // leaf object across queries, so a leaf tag set by an unranged
    // query would silently unscope every later ranged query on the
    // same view. The optimizer strips the trivial filter after
    // analysis, so it costs nothing at execution.
    val explicitNoRange = tlRange.isDefined && begin.isEmpty && end.isEmpty
    if (begin.isEmpty && end.isEmpty && !explicitNoRange) return plan
    val colName = conf.getOption("spark.graft.queryRange.column").getOrElse("ts")
    // Unit of a LongType time column. Not every Long named `ts` is epoch
    // nanos, so scaling is gated: explicit conf wins; otherwise nanos is
    // assumed ONLY when the session reads ns parquet as Long
    // (spark.sql.legacy.parquet.nanosAsLong — the one way our readers
    // produce a Long time column), else the column is taken as epoch
    // micros (no scaling).
    val longUnit = conf.getOption("spark.graft.queryRange.columnUnit").getOrElse {
      if (conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true")) "nanos"
      else "micros"
    }

    // The derived date predicate asserts `date = UTC day of the ranged
    // time column` — true for lakes the day-partition materializers
    // wrote (they derive `date` exactly so and record it in a root
    // marker file), NOT for an arbitrary table that happens to expose a
    // DateType 'date' (business date, non-UTC derivation — injecting
    // there silently drops rows, ADVICE r9). So the injection is gated:
    // an EXPLICITLY configured dateColumn is a user assertion and is
    // trusted; otherwise the scan's root must carry the Materialize
    // marker naming this very time column as the date's source.
    val explicitDateCol = conf.getOption("spark.graft.queryRange.dateColumn")
    val dateColName = explicitDateCol.getOrElse("date")

    def condFor(attr: Attribute): Expression = {
      def lit(micros: Long) = attr.dataType match {
        case LongType => longUnit match {
          case "nanos" => Literal(micros * 1000L, LongType)
          case "millis" => Literal(micros / 1000L, LongType)
          case "micros" => Literal(micros, LongType)
          case other => throw new IllegalArgumentException(
            s"spark.graft.queryRange.columnUnit must be nanos|micros|millis, got $other")
        }
        case t => Literal(micros, t)
      }
      val conds = begin.map(b => GreaterThanOrEqual(attr, lit(b))).toSeq ++
        end.map(e => LessThan(attr, lit(e)))
      conds.reduce(And)
    }

    // Derived PARTITION predicate: when the scan also exposes a
    // DateType day column (materialized views are written
    // partitionBy("date"), Materialize.updateByDay), the time range
    // implies a date range — and only a predicate on the PARTITION
    // column prunes whole directories before any IO; the ts predicate
    // alone reaches row-group stats but still lists and opens every
    // day's files. Day boundaries are UTC (every session here pins
    // spark.sql.session.timeZone=UTC, and the materializers derive
    // `date` with to_date under that zone). This is the 100 TB read
    // path: range → date filter → partition pruning → row-group stats.
    val MicrosPerDay = 86400000000L
    def dateLit(micros: Long) =
      Literal(Math.floorDiv(micros, MicrosPerDay).toInt,
        org.apache.spark.sql.types.DateType)
    def dateAttrOf(leaf: LeafNode): Option[Attribute] =
      leaf.output.find(a => a.name == dateColName &&
        a.dataType == org.apache.spark.sql.types.DateType)
        .filter(_ => explicitDateCol.isDefined ||
          TimeRangeRewrite.markerAssertsDerivation(spark, leaf, colName))

    /** Full injected range condition for a leaf: the ts conjuncts plus,
      * when a day partition column is present, the implied date
      * conjuncts (end is exclusive on ts, so its last included day is
      * floor((end−1)/day)).
      */
    def rangeCond(leaf: LeafNode, attr: Attribute): Expression = {
      val dateConds = dateAttrOf(leaf).toSeq.flatMap { da =>
        begin.map(b => GreaterThanOrEqual(da, dateLit(b))).toSeq ++
          end.map(e => LessThanOrEqual(da, dateLit(e - 1)))
      }
      (conjuncts(condFor(attr)) ++ dateConds).reduce(And)
    }

    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }

    def alreadyScoped(cond: Expression, leaf: LeafNode, attr: Attribute): Boolean = {
      val want = conjuncts(rangeCond(leaf, attr))
      val have = conjuncts(cond)
      want.forall(w => have.exists(_.semanticEquals(w)))
    }

    def inject(p: LogicalPlan): LogicalPlan = p match {
      // A filter WE injected is final, whatever range is live now: a
      // derived Dataset (head's limit, count's agg) re-runs the
      // analyzer later, possibly under a different live range (e.g. a
      // static conf range after the per-query thread-local cleared) —
      // re-wrapping would intersect the two ranges and silently return
      // the wrong window. The semantic check stays as well, for plan
      // copies that drop tags.
      case f @ Filter(cond, leaf: LeafNode)
          if f.getTagValue(TimeRangeRewrite.InjectedTag).isDefined ||
            (!explicitNoRange && timeAttr(leaf, colName).exists(a => alreadyScoped(cond, leaf, a))) => f
      case leaf: LeafNode if timeAttr(leaf, colName).isDefined =>
        val fl =
          if (explicitNoRange) Filter(Literal.TrueLiteral, leaf)
          else Filter(rangeCond(leaf, timeAttr(leaf, colName).get), leaf)
        fl.setTagValue(TimeRangeRewrite.InjectedTag, true)
        fl
      case other => other.mapChildren(inject)
    }
    inject(plan)
  }

  private def timeAttr(leaf: LeafNode, name: String): Option[Attribute] =
    leaf.output.find(a => a.name == name &&
      (a.dataType == TimestampType || a.dataType == TimestampNTZType ||
        a.dataType == LongType))
}

object TimeRangeRewrite {
  /** Marks Filters injected by this rule as final across re-analyses. */
  val InjectedTag: TreeNodeTag[Boolean] = TreeNodeTag[Boolean]("graft.queryRange.injected")

  /** Cache of root-path → (marker mtime, marker length, declared time
    * column), validated against the marker file's CURRENT modification
    * time AND length on every lookup (ADVICE r10: a positive-only,
    * path-keyed-for-the-JVM cache kept qualifying a lake that was
    * deleted and re-materialized with a different source time column —
    * silently dropping rows, the exact failure class this gate exists
    * to prevent; ADVICE r11: mtime alone has 1 s granularity on many
    * filesystems, so a delete + re-materialize within the same second
    * could still serve the stale column — the length check closes the
    * common case, since a different timeColumn value almost always
    * changes the marker's byte length). The validation is one
    * getFileStatus per analysis per qualified scan — the same cheap FS
    * metadata call class as the existence probe it replaces, and it
    * doubles as that probe (a deleted marker evicts the entry). What
    * the cache still saves is opening and parsing the file body.
    * NEGATIVE results stay uncached — the materializer may write the
    * marker after a first unmarked read of the same path in this JVM.
    */
  private val markerCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, String)]()

  /** True iff every root path of `leaf`'s file relation carries the
    * [[graft.operators.Materialize.DayPartitionMarker]] declaring its
    * `date` partition column derived from `timeCol`. Non-file leaves
    * (views over arbitrary plans, streaming sources) never qualify.
    */
  def markerAssertsDerivation(spark: SparkSession,
      leaf: LeafNode, timeCol: String): Boolean = leaf match {
    case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
      lr.relation match {
        case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          val roots = fs.location.rootPaths
          roots.nonEmpty && roots.forall(r =>
            markerTimeColumn(spark, r).contains(timeCol))
        case _ => false
      }
    case _ => false
  }

  private def markerTimeColumn(spark: SparkSession,
      root: org.apache.hadoop.fs.Path): Option[String] = {
    val key = root.toString
    try {
      val p = new org.apache.hadoop.fs.Path(root,
        graft.operators.Materialize.DayPartitionMarker)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st =
        try fs.getFileStatus(p)
        catch { case _: java.io.FileNotFoundException =>
          markerCache.remove(key); return None }
      val mtime = st.getModificationTime
      val len = st.getLen
      markerCache.get(key) match {
        case (t, l, tc) if t == mtime && l == len => Some(tc)
        case _ =>
          val in = fs.open(p)
          val content =
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          val parsed = content.linesIterator
            .collectFirst { case l if l.startsWith("timeColumn=") =>
              l.stripPrefix("timeColumn=").trim }
          parsed match {
            case Some(tc) => markerCache.put(key, (mtime, len, tc))
            case None => markerCache.remove(key) // marker lost its declaration
          }
          parsed
      }
    } catch {
      // an unreadable marker means "no date pruning"; fatal errors
      // (OOM, interrupts) are not a marker problem and propagate
      case NonFatal(_) => None
    }
  }
}
