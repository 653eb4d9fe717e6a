package graft.sources

import graft.operators.PartitionedTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Table-maintenance PROCEDURES for the SQL front door — the ops verbs
  * a warehouse operator runs, callable as
  *
  * {{{
  *   CALL graft.system.vacuum(table => 'lake.t', keep => 7 [, dry_run => true])
  *   CALL graft.system.vacuum_retain(table => 'lake.t', retain_hours => 168.0)
  *   CALL graft.system.optimize(table => 'lake.t', target_mb => 128)
  *   CALL graft.system.restore(table => 'lake.t', version => 3)
  *   CALL graft.system.clone(table => 'lake.t', target => 'lake.t2',
  *                           location => '/path' [, version => 3])
  * }}}
  *
  * Each binds onto the library maintenance primitive (version-count /
  * wall-clock vacuum with orphan GC, small-file compaction with
  * untouched partitions' pointers carried over, metadata-only RESTORE)
  * and returns a one-row summary as a [[LocalScan]] — driver-side
  * metadata answers; the data jobs (compaction's rewrite) are the
  * ordinary library jobs. Tables resolve as `'db.table'` against the
  * same registry the SQL reads use. */
object GraftProcedures {

  val names: Seq[String] =
    Seq("vacuum", "vacuum_retain", "optimize", "restore", "clone",
      "create_like", "analyze", "ann_search")

  def load(name: String): UnboundProcedure = name match {
    case "vacuum" => Vacuum
    case "vacuum_retain" => VacuumRetain
    case "optimize" => Optimize
    case "restore" => Restore
    case "clone" => Clone
    case "create_like" => CreateLike
    case "analyze" => Analyze
    case "ann_search" => AnnSearch
    case other => throw new UnsupportedOperationException(
      s"graft catalog: no procedure $other — have ${names.mkString(", ")}")
  }

  private def specOf(table: String): GraftTableSpec = {
    val parts = table.split("\\.", 2)
    require(parts.length == 2,
      s"graft procedures: table must be 'db.table', got '$table'")
    GraftCatalog.registry.getOrElse((Seq(parts(0)), parts(1)),
      throw new IllegalArgumentException(
        s"graft procedures: no registered table graft.$table"))
  }

  private def param(name: String, dt: DataType) =
    ProcedureParameter.in(name, dt).build()

  /** One-row, fixed-schema driver-side result. */
  private final case class SummaryScan(
      schema: StructType, row: InternalRow) extends LocalScan {
    override def rows(): Array[InternalRow] = Array(row)
    override def readSchema(): StructType = schema
    override def description(): String = "GraftProcedureSummary"
  }

  private def result(fields: (String, DataType, Any)*):
      java.util.Iterator[Scan] = {
    val schema = StructType(fields.map { case (n, dt, _) =>
      StructField(n, dt, nullable = false) })
    val row = new GenericInternalRow(fields.map {
      case (_, StringType, v) => UTF8String.fromString(v.toString)
      case (_, _, v) => v
    }.toArray[Any])
    java.util.List.of[Scan](SummaryScan(schema, row)).iterator()
  }

  private abstract class GraftProcedure(
      procName: String, params: Seq[ProcedureParameter])
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params.toArray
    override def isDeterministic: Boolean = false
  }

  private object Vacuum extends GraftProcedure("vacuum",
    Seq(param("table", StringType), param("keep", IntegerType),
      ProcedureParameter.in("dry_run", BooleanType)
        .defaultValue("false").build())) {
    override def description(): String =
      "drop all but the newest <keep> table versions; GC orphan stores. " +
        "dry_run => true reports what WOULD go, mutating nothing"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val spec = specOf(input.getUTF8String(0).toString)
      val dry = !input.isNullAt(2) && input.getBoolean(2)
      val (manifests, stores) =
        PartitionedTable.vacuum(spark, spec.dir, input.getInt(1), dryRun = dry)
      result(
        ("dropped_manifests", IntegerType, manifests.size),
        ("dropped_store_versions", IntegerType, stores),
        ("newest_version", LongType,
          PartitionedTable.latest(spark, spec.dir).get),
        ("dry_run", BooleanType, dry))
    }
  }

  private object VacuumRetain extends GraftProcedure("vacuum_retain",
    Seq(param("table", StringType), param("retain_hours", DoubleType),
      ProcedureParameter.in("dry_run", BooleanType)
        .defaultValue("false").build())) {
    override def description(): String =
      "drop table versions committed more than <retain_hours> ago " +
        "(always keeps the newest). dry_run => true mutates nothing"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val spec = specOf(input.getUTF8String(0).toString)
      val hours = input.getDouble(1)
      val dry = !input.isNullAt(2) && input.getBoolean(2)
      val (manifests, stores) = PartitionedTable.vacuumRetain(spark, spec.dir,
        java.time.Duration.ofMillis((hours * 3600 * 1000).toLong),
        dryRun = dry)
      result(
        ("dropped_manifests", IntegerType, manifests.size),
        ("dropped_store_versions", IntegerType, stores),
        ("newest_version", LongType,
          PartitionedTable.latest(spark, spec.dir).get),
        ("dry_run", BooleanType, dry))
    }
  }

  private object Optimize extends GraftProcedure("optimize",
    Seq(param("table", StringType), param("target_mb", IntegerType),
      ProcedureParameter.in("zorder_by", StringType)
        .defaultValue("''").build())) {
    override def description(): String =
      "bin-pack small files per partition toward <target_mb>; untouched " +
        "partitions' pointers carry over. zorder_by => 'c1,c2' " +
        "interleave-clusters the rewrite (Delta's OPTIMIZE ZORDER BY)"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val spec = specOf(input.getUTF8String(0).toString)
      val zorder = Option(input.getUTF8String(2)).map(_.toString)
        .filter(_.nonEmpty).map { s =>
          val cols = s.split(",").map(_.trim).filter(_.nonEmpty)
          require(cols.length == 2,
            s"graft procedures: zorder_by takes exactly two columns " +
              s"('c1,c2'), got '$s'")
          // rank-bucketed interleave: quantile edges come from one scan
          // of the live table, applied inside the OPTIMIZE rewrite
          graft.operators.ZOrder.zvalueRanked(
            PartitionedTable.read(spark, spec.dir), cols(0), cols(1))
        }
      val targetBytes = input.getInt(1).toLong << 20
      val partCol = spec.partCol.getOrElse("part")
      // ZORDER rewrites every partition for clustering, not size
      val flagged = zorder match {
        case Some(z) => PartitionedTable.optimizePartitions(spark, spec.dir,
          z, targetBytes = targetBytes, partCol = partCol)
        case None => PartitionedTable.compactPartitions(spark, spec.dir,
          targetBytes, partCol = partCol)
      }
      result(
        ("compacted_partitions", IntegerType, flagged.size),
        ("newest_version", LongType,
          PartitionedTable.latest(spark, spec.dir).get))
    }
  }

  /** `CALL graft.system.clone(table => 'db.t', target => 'db.t2',
    * location => '/path')` — SHALLOW CLONE through SQL: the target's
    * manifest POINTS AT the source's stores (zero data movement, the
    * only clone affordable at 100 TB); writes to the clone are
    * copy-on-write, the source is never written. The target registers
    * in the catalog with the source's partition/key contract, readable
    * immediately as `graft.db.t2`. */
  private object Clone extends GraftProcedure("clone",
    Seq(param("table", StringType), param("target", StringType),
      param("location", StringType),
      ProcedureParameter.in("version", LongType)
        .defaultValue("-1").build())) {
    override def description(): String =
      "shallow-clone <table> (optionally at <version>) to <location>, " +
        "registered as graft.<target> — manifest bytes, zero data movement"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val spec = specOf(input.getUTF8String(0).toString)
      val target = input.getUTF8String(1).toString
      val tparts = target.split("\\.", 2)
      require(tparts.length == 2,
        s"graft procedures: target must be 'db.table', got '$target'")
      require(!GraftCatalog.registry.contains((Seq(tparts(0)), tparts(1))),
        s"graft procedures: graft.$target is already registered")
      val location = input.getUTF8String(2).toString
      val vArg = if (input.isNullAt(3)) -1L else input.getLong(3)
      val asOf = if (vArg >= 0) Some(vArg) else None
      val v = PartitionedTable.cloneTable(spark, spec.dir, location,
        asOf, at = "sql_clone")
      GraftCatalog.register(spark, tparts(0), tparts(1), location,
        partCol = spec.partCol, keyCol = spec.keyCol)
      result(
        ("cloned_version", LongType,
          asOf.getOrElse(PartitionedTable.versions(spark, spec.dir).max)),
        ("target_version", LongType, v))
    }
  }

  /** `CALL graft.system.create_like(table => 'db.t', target => 'db.u',
    * location => '/path')` — the CREATE TABLE LIKE semantic for this
    * catalog (Spark's `CREATE TABLE ... LIKE` grammar takes 1-2-part
    * identifiers only, so it can never reach a named catalog): declare
    * an EMPTY table under <location> with the source's full layout
    * CONTRACT — logical schema (column DEFAULTs included), identity or
    * hidden-transform partitioning, key column, CHECK constraints — and
    * register it as graft.<target>. No data, no store pointers (that's
    * `clone`); the new table's first write commits v0. Implemented as
    * "re-execute what SHOW CREATE TABLE renders": the same
    * schema/partitioning/constraints surfaces feed both. */
  private object CreateLike extends GraftProcedure("create_like",
    Seq(param("table", StringType), param("target", StringType),
      param("location", StringType))) {
    override def description(): String =
      "declare an empty graft.<target> at <location> with <table>'s " +
        "layout contract (schema, partitioning, keycol, constraints) — " +
        "CREATE TABLE LIKE, catalog-routed; no data is referenced"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val source = input.getUTF8String(0).toString
      val spec = specOf(source)
      val target = input.getUTF8String(1).toString
      val tparts = target.split("\\.", 2)
      require(tparts.length == 2,
        s"graft procedures: target must be 'db.table', got '$target'")
      require(!GraftCatalog.registry.contains((Seq(tparts(0)), tparts(1))),
        s"graft procedures: graft.$target is already registered")
      val location = input.getUTF8String(2).toString
      val src = new GraftTable(s"graft.$source", spec,
        PartitionedTable.latest(spark, spec.dir).getOrElse(-1L))
      val props = new java.util.HashMap[String, String]()
      props.put("location", location)
      spec.keyCol.foreach(k => props.put("keycol", k))
      // strip the SOURCE'S OWN derived names before handing the read
      // schema to createTable: planTable only strips the canonical
      // names IT regenerates (part_<gen>, part_levels), so a source
      // registered via the library with custom derived names (e.g.
      // GenLevel(..., "pm")) would otherwise land 'pm' as an ordinary
      // string DATA column next to the target's fresh part_month —
      // silently diverging the layout contract
      val srcDerived: Set[String] =
        PartitionedTable.generatedLevelsOf(spark, spec.dir)
          .map(PartitionedTable.derivedColsOf).getOrElse(Set.empty)
      val srcSchema = org.apache.spark.sql.types.StructType(
        src.schema().fields.filterNot(f => srcDerived.contains(f.name)))
      // the catalog's own CREATE path: binds transforms, strips derived
      // columns, declares the empty table, registers the identifier
      new GraftCatalog().createTable(
        Identifier.of(Array(tparts(0)), tparts(1)),
        srcSchema, src.partitioning(), props): Unit
      val constraints = PartitionedTable.constraintsOf(spark, spec.dir)
      constraints.foreach { case (n, sql) =>
        PartitionedTable.addConstraint(spark, location, n, sql)
      }
      result(
        ("target", StringType, s"graft.$target"),
        ("location", StringType, location),
        ("n_columns", IntegerType, srcSchema.length),
        ("n_constraints", IntegerType, constraints.size))
    }
  }

  /** `CALL graft.system.analyze(table => 'db.t' [, columns => 'a,b'])`
    * — the ANALYZE TABLE ... COMPUTE STATISTICS front door: one
    * aggregation job computes row count + per-column NDV/null-count/
    * min/max ([[PartitionedTable.analyzeTable]]) and persists them as
    * `stats.*` table properties, which [[GraftScan]] serves to the
    * planner (`columnStats()` → CBO join estimation/reorder under
    * `spark.sql.cbo.enabled`) and `DESCRIBE EXTENDED` shows operators.
    * Explicit and re-runnable: re-ANALYZE after a large load replaces
    * the whole stats key space. */
  private object Analyze extends GraftProcedure("analyze",
    Seq(param("table", StringType),
      ProcedureParameter.in("columns", StringType)
        .defaultValue("''").build(),
      ProcedureParameter.in("histogram_columns", StringType)
        .defaultValue("''").build(),
      ProcedureParameter.in("buckets", IntegerType)
        .defaultValue("32").build(),
      ProcedureParameter.in("incremental", BooleanType)
        .defaultValue("false").build())) {
    override def description(): String =
      "compute row count + per-column NDV/nulls/min/max in one job and " +
        "persist them as stats.* table properties (planner CBO + " +
        "DESCRIBE EXTENDED). columns => 'a,b' restricts the column set; " +
        "histogram_columns => 'a,b' additionally builds equi-height " +
        "histograms (numeric/date/timestamp columns, one extra pass) " +
        "with `buckets` " +
        "bins each, so CBO selectivity on skewed predicates stops " +
        "assuming uniformity"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val spec = specOf(input.getUTF8String(0).toString)
      def csv(i: Int): Seq[String] = Option(input.getUTF8String(i))
        .map(_.toString).filter(_.nonEmpty)
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil)
      val cols = csv(1)
      val histCols = csv(2)
      val incremental = !input.isNullAt(4) && input.getBoolean(4)
      val stats =
        if (incremental) {
          require(histCols.isEmpty,
            "graft procedures: histogram_columns is a full-analyze " +
              "feature — drop incremental => true to build histograms")
          PartitionedTable.analyzeTableIncremental(spark, spec.dir,
            spec.partCol.getOrElse(throw new IllegalArgumentException(
              "graft procedures: incremental analyze needs a registered " +
                "partition column")), cols)
        } else PartitionedTable.analyzeTable(spark, spec.dir, cols,
          histCols = histCols, histBuckets = input.getInt(3))
      result(
        ("analyzed_version", LongType, stats("stats.version").toLong),
        ("n_rows", LongType, stats("stats.rows").toLong),
        ("n_columns", IntegerType,
          stats.keys.count(_.endsWith(".ndv"))),
        ("n_histograms", IntegerType,
          stats.keys.count(_.endsWith(".histogram"))),
        ("scanned_partitions", IntegerType,
          stats.get("analyze.scanned_partitions").map(_.toInt)
            .getOrElse(-1)))
    }
  }

  /** K-row driver-side result (top-k searches; k-bounded by contract). */
  private final case class RowsScan(
      schema: StructType, rs: Array[InternalRow]) extends LocalScan {
    override def rows(): Array[InternalRow] = rs
    override def readSchema(): StructType = schema
    override def description(): String = "GraftProcedureRows"
  }

  /** `CALL graft.system.ann_search(table => 'db.idx', query_vec =>
    * '0.1,-0.2,...' [, k => 10][, nprobe => 1])` — the SQL front door
    * onto the feed-maintained IVF index ([[graft.streaming.IndexFeed
    * .searchIvf]]): rebuild the FROZEN quantizer from the index's
    * persisted `ann.*` properties (maintainIvf writes them at every
    * drain), resolve the `nprobe` nearest inverted lists DRIVER-side,
    * read ONLY those partitions' pinned dirs, score with the fused
    * d2 kernels, and return the top `k` as (key, d2) rows — k-bounded,
    * zero corpus shuffle, no Scala in sight. A table without the
    * `ann.*` contract fails loud (it isn't an ANN index). */
  private object AnnSearch extends GraftProcedure("ann_search",
    Seq(param("table", StringType), param("query_vec", StringType),
      ProcedureParameter.in("k", IntegerType).defaultValue("10").build(),
      ProcedureParameter.in("nprobe", IntegerType)
        .defaultValue("1").build(),
      ProcedureParameter.in("filter", StringType)
        .defaultValue("''").build())) {
    override def description(): String =
      "top-k nearest neighbors from a feed-maintained IVF index: " +
        "query_vec => 'v0,v1,...' (the index's embedding dimension), " +
        "nprobe nearest inverted lists probed, rows (key, d2) ascending; " +
        "filter => 'sql predicate' PRE-filters the probed candidates " +
        "before the top-k cut (the filtered-ANN semantic — k matching " +
        "rows, never a post-cut)"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val spec = specOf(input.getUTF8String(0).toString)
      val props = PartitionedTable.propertiesOf(spark, spec.dir)
      val centStr = props.getOrElse("ann.centroids",
        throw new IllegalArgumentException(
          s"graft procedures: ${spec.dir} is not an ANN index — " +
            "IndexFeed.maintainIvf persists the ann.* quantizer contract"))
      val model = graft.functions.KMeans.Model(
        centStr.split(";").map(_.split(",").map(_.toDouble)))
      val query = input.getUTF8String(1).toString
        .split(",").map(_.trim).filter(_.nonEmpty).map(_.toDouble).toSeq
      require(query.length == model.centroids.head.length,
        s"graft procedures: query_vec has ${query.length} dims, the " +
          s"index expects ${model.centroids.head.length}")
      val k = input.getInt(2)
      val nprobe = input.getInt(3)
      val keyCol = props.getOrElse("ann.keycol", "vec_id")
      val filter = Option(input.getUTF8String(4)).map(_.toString)
        .filter(_.nonEmpty)
        .map(org.apache.spark.sql.functions.expr)
      val df = graft.streaming.IndexFeed.searchIvf(
        spark, spec.dir, model, query, nprobe = nprobe, k = k,
        keyCol = keyCol, embCol = props.getOrElse("ann.embcol", "embedding"),
        d2Decimals = props.get("ann.dist_decimals").map(_.toInt)
          .getOrElse(-1),
        filter = filter)
        .select(org.apache.spark.sql.functions.col(keyCol),
          org.apache.spark.sql.functions.col("d2"))
      // k-bounded collect of InternalRows; the probe job itself reads
      // only the pinned inverted-list dirs (plan-asserted in
      // IndexFeedSpec)
      val rows = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.executedPlan.executeCollect().map(_.copy())
      java.util.List.of[Scan](
        RowsScan(df.schema, rows.toArray[InternalRow])).iterator()
    }
  }

  private object Restore extends GraftProcedure("restore",
    Seq(param("table", StringType), param("version", LongType))) {
    override def description(): String =
      "commit a past version's content as the new table version " +
        "(metadata-only; history keeps both timelines)"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val spec = specOf(input.getUTF8String(0).toString)
      val v = PartitionedTable.restore(spark, spec.dir, input.getLong(1),
        at = "sql_restore")
      result(("restored_to", LongType, input.getLong(1)),
        ("new_version", LongType, v))
    }
  }
}
