package graft.sources

import java.util

import graft.{QueryDef, Tables}
import graft.operators.PartitionedTable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{functions, Column, DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, WriteBuilder}
import org.apache.spark.sql.functions.{col, count, lit, round, sum, to_date}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The lakehouse's SQL FRONT DOOR: a DSv2 [[TableCatalog]] that exposes
  * [[graft.operators.PartitionedTable]]s to `spark.sql` — so the user
  * coming from the reference's SQL habit (transformToSilver.py:105-112
  * runs everything through `spark.sql(...)`) can write
  *
  * {{{
  *   SELECT * FROM graft.db.t                        -- latest snapshot
  *   SELECT * FROM graft.db.t VERSION AS OF 3        -- time travel
  *   SELECT * FROM graft.db.t TIMESTAMP AS OF '...'  -- wall-clock travel
  * }}}
  *
  * instead of calling the Scala library. Version/timestamp travel binds
  * to the SAME `versionAt`/manifest resolution the library uses, and a
  * catalog read keeps the library read path's data skipping:
  *
  *  - partition-equality/IN predicates prune at the MANIFEST (only the
  *    named partitions' pinned dirs are ever listed or opened);
  *  - closed-range/equality predicates on data columns route through
  *    [[PartitionedTable.readWhereAll]] (min/max stats sidecar file
  *    skipping) or [[PartitionedTable.readEq]] (bloom sidecar point
  *    lookups) — the catalog scan is never weaker than the library
  *    call;
  *  - everything else lands as ordinary Catalyst filters on the inner
  *    plan, reaching the parquet reader as `PushedFilters`.
  *
  * The scan implements [[V1Scan]] (the stable JDBC-connector pattern):
  * `buildScan` returns the library-built DataFrame's RDD, so every
  * existing read feature — deletion vectors, merge-on-read appends,
  * column mapping, shallow-clone resolution — works through SQL by
  * construction rather than by reimplementation. Pushed filters are all
  * declared RESIDUAL (Spark re-evaluates them above the scan), so the
  * pruning is best-effort and can never change results.
  *
  * Tables resolve from an explicit registry ([[GraftCatalog.register]];
  * carries the partition column, enabling manifest pruning, and
  * optionally the key column, enabling `t$changes` and the SQL
  * row-level commands) or, absent a registration, from
  * `<root option>/<namespace>/<table>` — the deployment shape where
  * `spark.sql.catalog.graft.root` points at the warehouse.
  *
  * WRITES go through the front door too (round 14; see [[GraftWrites]]):
  * `INSERT INTO` / `INSERT OVERWRITE [PARTITION (...)]` bind onto
  * append/commit/replacePartitions via the V1 write bridge, and
  * `MERGE INTO` / `UPDATE` / `DELETE` ride Spark's row-level-command
  * rewrite onto the snapshot-pinned changelog merge — OCC, CHECK
  * constraints, generated-column derivation and history all the
  * library's own.
  *
  * DDL works too (round 14): `CREATE TABLE ... PARTITIONED BY (p)`
  * (and CTAS) declare an empty table whose first write commits v0
  * against the declaration; `ALTER TABLE` binds ADD COLUMN (metadata-
  * only null-fill at the declared type), RENAME/DROP COLUMN (the
  * rename-chain column mapping) and ADD/DROP CHECK constraints onto
  * the library's catalog writes; `DROP TABLE` unbinds and removes the
  * directory; `RENAME TO` re-binds the identifier. Every form is the
  * SAME metadata machinery a library caller gets — zero data movement,
  * same guards.
  */
class GraftCatalog extends TableCatalog with ProcedureCatalog
    with SupportsNamespaces with StagingTableCatalog {
  private var catalogName: String = "graft"
  private var root: Option[String] = None

  // ---- StagingTableCatalog: atomic CREATE/REPLACE ... AS SELECT (see
  // GraftStagedTable — REPLACE commits the new snapshot on the SAME
  // manifest log; CREATE becomes visible only at commitStagedChanges).
  override def stageCreate(
      ident: Identifier, info: TableInfo): StagedTable = {
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    new GraftStagedTable(this, ident, info.schema(), info.partitions(),
      info.properties(), replace = false, constraints = info.constraints())
  }
  override def stageReplace(
      ident: Identifier, info: TableInfo): StagedTable = {
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(ident)
    new GraftStagedTable(this, ident, info.schema(), info.partitions(),
      info.properties(), replace = true, constraints = info.constraints())
  }
  override def stageCreateOrReplace(
      ident: Identifier, info: TableInfo): StagedTable =
    new GraftStagedTable(this, ident, info.schema(), info.partitions(),
      info.properties(), replace = tableExists(ident),
      constraints = info.constraints())

  /** `CALL graft.system.<proc>(...)` — table maintenance through SQL
    * (see [[GraftProcedures]]). */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(ident.name)
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.names
      .map(n => Identifier.of(Array("system"), n)).toArray

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root"))
  }

  override def name(): String = catalogName

  /** `ALTER TABLE ... ADD CONSTRAINT` and column DEFAULT values gate on
    * these declarations. */
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  override def listTables(namespace: Array[String]): Array[Identifier] =
    GraftCatalog.registry.keys.toSeq.collect {
      case (ns, t) if ns == namespace.toSeq => Identifier.of(namespace, t)
    }.sortBy(_.name).toArray

  private def specOf(ident: Identifier): GraftTableSpec =
    GraftCatalog.registry.get((ident.namespace.toSeq, ident.name))
      .orElse(root.map(r =>
        GraftTableSpec((r +: ident.namespace.toSeq :+ ident.name)
          .mkString("/"), None)))
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(ident))

  override def tableExists(ident: Identifier): Boolean =
    GraftCatalog.registry.contains((ident.namespace.toSeq, ident.name)) ||
      root.exists { r =>
        val dir = (r +: ident.namespace.toSeq :+ ident.name).mkString("/")
        PartitionedTable.latest(SparkSession.active, dir).isDefined ||
          PartitionedTable.declaredSchemaOf(SparkSession.active, dir).isDefined
      }

  override def loadTable(ident: Identifier): Table =
    load(ident, None)

  /** `VERSION AS OF <v>` — the manifest version, verbatim — or
    * `VERSION AS OF '<tag>'`: the newest version whose history header
    * carries that `at` tag (how operators pin releases by name; a
    * driver-side header scan, #versions-sized). Unknown tags fail loud
    * with the retained tag set's shape rather than silently reading
    * latest. */
  override def loadTable(ident: Identifier, version: String): Table =
    version.toLongOption match {
      case Some(v) => load(ident, Some(v))
      case None =>
        val spec = specOf(ident)
        val v = PartitionedTable.versionByTag(
          SparkSession.active, spec.dir, version).getOrElse(
          throw new IllegalArgumentException(
            s"graft catalog: VERSION AS OF '$version' — no retained commit " +
              s"of $ident carries that tag (tags are the history's 'at' " +
              "column: SELECT version, at FROM " +
              s"${name()}.${ident.namespace.mkString(".")}." +
              s"`${ident.name}$$history`)"))
        load(ident, Some(v))
    }

  /** `TIMESTAMP AS OF <ts>` — Spark hands epoch MICROseconds; resolve
    * through the same header-stamp scan as the library's readAt. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val spec = specOf(ident)
    val v = PartitionedTable.versionAt(
      SparkSession.active, spec.dir, timestampMicros / 1000L)
    load(ident, Some(v))
  }

  private def load(ident: Identifier, asOf: Option[Long]): Table = {
    // Iceberg-style METADATA TABLES: `t$history` (the commit log),
    // `t$detail` (per-partition DESCRIBE DETAIL) and `t$changes` (the
    // change data feed) read the ops surfaces through plain SQL —
    // `SELECT * FROM graft.db.t$history` — without any library call.
    // Resolved against the BASE table's registration.
    val meta = Seq("$history", "$detail", "$changes").find(ident.name.endsWith)
    meta match {
      case Some(suffix) =>
        val baseIdent = Identifier.of(ident.namespace,
          ident.name.stripSuffix(suffix))
        val spec = specOf(baseIdent)
        require(asOf.isEmpty,
          s"graft catalog: time travel does not apply to metadata table " +
            s"${ident.name} (its rows already span versions)")
        if (suffix == "$changes") {
          val key = spec.keyCol.getOrElse(throw new IllegalArgumentException(
            s"graft catalog: ${ident.name} needs the base table registered " +
              "with its key column (register(..., keyCol = Some(...))) — " +
              "the feed diffs commits by (partition, key)"))
          val part = spec.partCol.getOrElse(throw new IllegalArgumentException(
            s"graft catalog: ${ident.name} needs the base table registered " +
              "with its partition column"))
          new GraftChangesTable(s"$catalogName.${ident.toString}",
            spec.dir, key, part)
        } else new GraftMetaTable(s"$catalogName.${ident.toString}", spec.dir,
          suffix.stripPrefix("$"))
      case None =>
        val spec = specOf(ident)
        val spark = SparkSession.active
        val vs = PartitionedTable.versions(spark, spec.dir)
        if (vs.isEmpty) {
          // created-but-never-written DDL table: resolves at the
          // declared schema, scans empty (version sentinel -1)
          if (asOf.isEmpty &&
              PartitionedTable.declaredSchemaOf(spark, spec.dir).isDefined)
            return new GraftTable(s"$catalogName.${ident.toString}", spec, -1L)
          throw new org.apache.spark.sql.catalyst.analysis
            .NoSuchTableException(ident)
        }
        val v = asOf.getOrElse(vs.max)
        require(vs.contains(v),
          s"graft catalog: version $v not committed under ${spec.dir} " +
            s"(have ${vs.sorted.mkString(",")})")
        new GraftTable(s"$catalogName.${ident.toString}", spec, v)
    }
  }

  /** `CREATE TABLE graft.db.t (...) PARTITIONED BY (p)` — and the
    * createTable leg of CTAS. Declares an EMPTY
    * [[PartitionedTable]] (schema + partition column recorded on the
    * table's own filesystem, [[PartitionedTable.createEmpty]]) and
    * registers the binding; the first INSERT/CTAS write commits v0
    * against the declaration. Exactly one identity `PARTITIONED BY`
    * column is required (the table format's layout contract) and it
    * must be a string in the declared schema (the Hive
    * partition-value convention — cast in the query). Recognized
    * table properties: `location` (defaults to a per-JVM scratch
    * warehouse or the catalog's `root` option) and `keycol` (row
    * identity — enables MERGE/UPDATE/DELETE and `t$changes`). */
  override def createTable(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    val spec = planTable(ident, schema, partitions, properties)
    GraftCatalog.registry.put((ident.namespace.toSeq, ident.name), spec)
    load(ident, None)
  }

  /** The TableInfo overload additionally carries CREATE-time table
    * CONSTRAINTS (`CREATE TABLE (..., CONSTRAINT c CHECK (...))` — and
    * SHOW CREATE TABLE output, which renders constraints inside the
    * column list); bind them onto the persistent CHECK catalog so the
    * rendered DDL re-executes contract-complete. The default
    * implementation would silently drop them. */
  override def createTable(ident: Identifier, info: TableInfo): Table = {
    val t = createTable(ident, info.schema(), info.partitions(),
      info.properties())
    GraftCatalog.applyConstraints(ident, info.constraints())
    t
  }

  /** The filesystem side of CREATE TABLE — declare the empty table and
    * its partitioning rules on disk WITHOUT binding the identifier.
    * `createTable` binds immediately; the staged-CTAS path
    * ([[GraftStagedTable]]) lands the query's rows against the planned
    * spec first and binds only at commit, so a failed CTAS never shows
    * a table. */
  private[sources] def planTable(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String],
      requireEmptyDir: Boolean = false): GraftTableSpec = {
    val spark = SparkSession.active
    require(partitions.nonEmpty,
      "graft catalog: CREATE TABLE needs PARTITIONED BY (<column> | " +
        "years/months/days(<column>) | truncate(<column>, n), ...)")
    // Iceberg-style hidden-partitioning transforms bind to the
    // generated-partition machinery: partition columns are DERIVED on
    // every write and readers prune from SOURCE-column predicates. N
    // transforms → a level spec of N levels (months(ts) alone is the
    // N = 1 case; the reference's year/month bronze layout is N = 2).
    def srcOf(tr: Transform): String = {
      require(tr.references.length == 1 &&
        tr.references.head.fieldNames.length == 1,
        s"graft catalog: PARTITIONED BY transform ${tr.describe} must " +
          "reference exactly one top-level column")
      tr.references.head.fieldNames.head
    }
    def dateRule(tr: Transform, gen: PartitionedTable.PartGen)
        : (String, PartitionedTable.PartGen) = {
      val ref = srcOf(tr)
      require(schema.fieldNames.contains(ref),
        s"graft catalog: ${tr.name}($ref) references an undeclared column")
      schema(ref).dataType match {
        case _: org.apache.spark.sql.types.DateType => ()
        case _: org.apache.spark.sql.types.TimestampType => ()
        case _: org.apache.spark.sql.types.TimestampNTZType => ()
        case dt => throw new IllegalArgumentException(
          s"graft catalog: ${tr.name}($ref) needs a date/timestamp " +
            s"column; $ref is ${dt.simpleString}")
      }
      (ref, gen)
    }
    def rule(tr: Transform): Option[(String, PartitionedTable.PartGen)] =
      tr.name match {
        case "identity" => None
        case "years" => Some(dateRule(tr, PartitionedTable.PartGen.Year))
        case "months" => Some(dateRule(tr, PartitionedTable.PartGen.Month))
        case "days" => Some(dateRule(tr, PartitionedTable.PartGen.Day))
        case "truncate" =>
          val ref = srcOf(tr)
          val n = tr.arguments.collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_]
                if l.value.isInstanceOf[Number] =>
              l.value.asInstanceOf[Number].intValue
          }.getOrElse(throw new IllegalArgumentException(
            s"graft catalog: truncate needs an int width — ${tr.describe}"))
          require(schema.fieldNames.contains(ref) &&
            schema(ref).dataType ==
              org.apache.spark.sql.types.StringType,
            s"graft catalog: truncate($ref, $n) needs a declared string " +
              "column")
          Some((ref, PartitionedTable.PartGen.Prefix(n)))
        case other => throw new UnsupportedOperationException(
          s"graft catalog: unsupported PARTITIONED BY transform $other — " +
            "supported: identity (plain column, alone), years(c), " +
            "months(c), days(c), truncate(c, n)")
      }
    val keyCol = Option(properties.get("keycol"))
      .orElse(Option(properties.get("keyCol")))
    keyCol.foreach(k => require(schema.fieldNames.contains(k),
      s"graft catalog: keycol $k is not a declared column"))
    val dir = Option(properties.get("location")).getOrElse(
      (root.getOrElse(GraftCatalog.workDir.resolve("warehouse").toString) +:
        ident.namespace.toSeq :+ ident.name).mkString("/"))
    if (requireEmptyDir) {
      // staged-CTAS contract: an aborted stage removes the WHOLE
      // directory (the only way to collect partially-landed stores), so
      // a LOCATION holding unrelated pre-existing files is refused at
      // plan time rather than destroyed at abort time
      val hfs = graft.streaming.VersionedStore.fs(spark, dir)
      val p = new org.apache.hadoop.fs.Path(dir)
      require(!hfs.exists(p) || hfs.listStatus(p).isEmpty,
        s"graft catalog: staged CREATE TABLE $ident AS SELECT needs an " +
          s"empty or absent LOCATION; '$dir' holds pre-existing files " +
          "(a failed CTAS cleans its location by deleting it)")
    }
    // derived partition columns may appear in the DECLARED schema (as
    // strings) and are stripped: the engine derives them on every
    // write, and SHOW CREATE TABLE output — whose column list is the
    // table's READ schema, derived columns included — must re-execute
    // into the same contract
    def stripDerived(s: StructType, names: Seq[String]): StructType = {
      names.foreach { n =>
        if (s.fieldNames.contains(n))
          require(s(n).dataType == org.apache.spark.sql.types.StringType,
            s"graft catalog: derived partition column $n must be a string " +
              s"if declared; got ${s(n).dataType.simpleString}")
      }
      StructType(s.fields.filterNot(f => names.contains(f.name)))
    }
    val rules = partitions.toSeq.map(tr => (tr, rule(tr)))
    val pc = rules match {
      case Seq((tr, None)) => // plain identity partitioning
        val ref = srcOf(tr)
        PartitionedTable.createEmpty(spark, dir, schema, ref)
        ref
      case many => // transforms: a generated level spec, one per rule
        require(many.forall(_._2.isDefined),
          "graft catalog: multi-column PARTITIONED BY takes transforms " +
            "only (years/months/days/truncate) — a plain column level " +
            "is truncate(col, <width>)")
        val levels = many.map(_._2.get).zipWithIndex.map {
          case ((ref, gen), i) =>
            val base = s"part_${gen.name}"
            val name = if (many.count(_._2.get._2.name == gen.name) > 1)
              s"${base}_$i" else base
            PartitionedTable.GenLevel(ref, gen, name)
        }
        val pc = PartitionedTable.partColOf(levels)
        PartitionedTable.createEmpty(spark, dir,
          stripDerived(schema,
            PartitionedTable.derivedColsOf(levels).toSeq),
          pc, derivedPart = true)
        PartitionedTable.declareGeneratedLevels(spark, dir, levels)
        pc
    }
    GraftTableSpec(dir, Some(pc), keyCol)
  }

  /** `ALTER TABLE` — each form binds onto the library's metadata-only
    * catalog writes (zero data movement, same guards):
    * ADD COLUMN → [[PartitionedTable.addColumn]] (nullable only —
    * existing rows can't satisfy NOT NULL), RENAME/DROP COLUMN → the
    * rename-chain column mapping, ADD/DROP CONSTRAINT → the persistent
    * CHECK catalog (current rows validated on add, every future write
    * gated). The registered partition/key columns refuse rename/drop —
    * they are the table's layout and row-identity contracts. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val spec = specOf(ident)
    val spark = SparkSession.active
    def refuseContract(name: String, op: String): Unit = {
      require(!spec.partCol.contains(name),
        s"graft catalog: cannot $op partition column $name — it is the " +
          "table's layout contract")
      require(!spec.keyCol.contains(name),
        s"graft catalog: cannot $op key column $name — it is the table's " +
          "row-identity contract")
    }
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          s"graft catalog: nested ADD COLUMN unsupported " +
            s"(${a.fieldNames.mkString(".")})")
        require(a.isNullable,
          s"graft catalog: ADD COLUMN ${a.fieldNames.head} NOT NULL is " +
            "unsatisfiable — existing rows hold no value (add nullable)")
        // DEFAULT rides the _addcols sidecar: pre-add rows read the
        // default (coalesced), INSERTs omitting the column resolve it
        // (the CURRENT_DEFAULT metadata overlay on the table schema)
        val defaultSql = Option(a.defaultValue).map { dv =>
          Option(dv.getSql).getOrElse(throw new UnsupportedOperationException(
            s"graft catalog: ADD COLUMN ${a.fieldNames.head} DEFAULT " +
              "needs the default's SQL form"))
        }
        PartitionedTable.addColumn(spark, spec.dir, a.fieldNames.head,
          a.dataType, defaultSql)
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          s"graft catalog: nested RENAME COLUMN unsupported")
        refuseContract(r.fieldNames.head, "rename")
        PartitionedTable.renameColumn(spark, spec.dir, r.fieldNames.head,
          r.newName)
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1,
          s"graft catalog: nested DROP COLUMN unsupported")
        refuseContract(d.fieldNames.head, "drop")
        PartitionedTable.dropColumn(spark, spec.dir, d.fieldNames.head)
      case c: TableChange.AddConstraint =>
        c.constraint match {
          case chk: org.apache.spark.sql.connector.catalog.constraints.Check =>
            PartitionedTable.addConstraint(spark, spec.dir, chk.name,
              chk.predicateSql)
          case other => throw new UnsupportedOperationException(
            s"graft catalog: only CHECK constraints are supported; got " +
              other.toDDL)
        }
      case c: TableChange.DropConstraint =>
        PartitionedTable.dropConstraint(spark, spec.dir, c.name)
      case s: TableChange.SetProperty =>
        require(!Seq("partcol", "keycol").contains(s.property.toLowerCase),
          s"graft catalog: '${s.property}' is a registration contract — " +
            "re-register the table to change it")
        PartitionedTable.alterProperties(spark, spec.dir,
          Map(s.property -> Some(s.value)))
      case r: TableChange.RemoveProperty =>
        require(!Seq("partcol", "keycol").contains(r.property.toLowerCase),
          s"graft catalog: '${r.property}' is a registration contract — " +
            "re-register the table to change it")
        PartitionedTable.alterProperties(spark, spec.dir,
          Map(r.property -> None))
      case other => throw new UnsupportedOperationException(
        s"graft catalog: unsupported ALTER TABLE change $other — " +
          "supported: ADD COLUMN (nullable), RENAME COLUMN, DROP COLUMN, " +
          "ADD/DROP CHECK CONSTRAINT, SET/UNSET TBLPROPERTIES")
    }
    loadTable(ident)
  }

  /** `DROP TABLE graft.db.t` — unbinds the registration and removes the
    * table's directory (manifests, stores, sidecars). Registered
    * tables only: a root-resolved directory was never declared through
    * this catalog, so destroying it from SQL would be a surprise. */
  override def dropTable(ident: Identifier): Boolean =
    GraftCatalog.registry.remove((ident.namespace.toSeq, ident.name)) match {
      case None => false
      case Some(spec) =>
        val spark = SparkSession.active
        graft.streaming.VersionedStore.fs(spark, spec.dir)
          .delete(new org.apache.hadoop.fs.Path(spec.dir), true)
        true
    }

  // ---- SupportsNamespaces: namespaces are one-level labels — the set
  // holding registered tables, plus any explicitly CREATEd (tracked
  // JVM-wide like the registry), plus the procedures' `system`. They
  // carry no metadata; DROP without CASCADE refuses a non-empty one.
  override def listNamespaces(): Array[Array[String]] = {
    val ns = GraftCatalog.registry.keys.map(_._1).toSet ++
      GraftCatalog.createdNamespaces.keys ++ Set(Seq("system"))
    ns.toSeq.sortBy(_.mkString("/")).map(_.toArray).toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty // one level, no nesting
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchNamespaceException(name() +: namespace.toSeq)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.toSeq == Seq("system") ||
      GraftCatalog.registry.keys.exists(_._1 == namespace.toSeq) ||
      GraftCatalog.createdNamespaces.contains(namespace.toSeq)

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace)) util.Collections.emptyMap()
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchNamespaceException(name() +: namespace.toSeq)

  override def createNamespace(
      namespace: Array[String], metadata: util.Map[String, String]): Unit = {
    if (namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NamespaceAlreadyExistsException((name() +: namespace.toSeq).toArray)
    GraftCatalog.createdNamespaces.put(namespace.toSeq, ()): Unit
  }

  override def alterNamespace(
      namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog: namespaces carry no metadata to alter")

  override def dropNamespace(
      namespace: Array[String], cascade: Boolean): Boolean = {
    val tables = listTables(namespace)
    if (tables.nonEmpty && !cascade)
      throw new org.apache.spark.sql.catalyst.analysis
        .NonEmptyNamespaceException((name() +: namespace.toSeq).toArray)
    tables.foreach(t => dropTable(t): Unit)
    GraftCatalog.createdNamespaces.remove(namespace.toSeq).isDefined ||
      tables.nonEmpty
  }

  /** `ALTER TABLE ... RENAME TO ...` — a registry re-bind: the
    * identifier moves, the directory (and every committed version in
    * it) stays where it is. */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (tableExists(newIdent))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(newIdent)
    val spec = GraftCatalog.registry
      .remove((oldIdent.namespace.toSeq, oldIdent.name))
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(oldIdent))
    GraftCatalog.registry.put((newIdent.namespace.toSeq, newIdent.name), spec)
  }
}

/** Where a catalog identifier's data lives; `partCol` (known for
  * registered tables) enables manifest-level partition pruning;
  * `keyCol` additionally enables the `t$changes` feed and the SQL
  * row-level commands (MERGE/UPDATE/DELETE), which need the table's
  * (partition, key) row identity. */
case class GraftTableSpec(
    dir: String, partCol: Option[String], keyCol: Option[String] = None)

object GraftCatalog {
  private[sources] val registry =
    scala.collection.concurrent.TrieMap.empty[(Seq[String], String), GraftTableSpec]

  /** Namespaces declared via SQL `CREATE NAMESPACE` (beyond those
    * implied by registered tables); JVM-wide like the registry. */
  private[sources] val createdNamespaces =
    scala.collection.concurrent.TrieMap.empty[Seq[String], Unit]

  /** Bind CREATE-time table constraints (CHECK only) onto the library
    * constraint catalog of an already-registered identifier. */
  private[sources] def applyConstraints(
      ident: Identifier,
      constraints: Array[org.apache.spark.sql.connector.catalog
        .constraints.Constraint]): Unit =
    Option(constraints).toSeq.flatten.foreach {
      case chk: org.apache.spark.sql.connector.catalog.constraints.Check =>
        PartitionedTable.addConstraint(SparkSession.active,
          specFor(ident).dir, chk.name, chk.predicateSql)
      case other => throw new UnsupportedOperationException(
        s"graft catalog: only CHECK constraints are supported; got " +
          other.toDDL)
    }

  /** Registry lookup for the staged-DDL path (registered tables only —
    * staging needs the exact directory the replace will commit on). */
  private[sources] def specFor(ident: Identifier): GraftTableSpec =
    registry.getOrElse((ident.namespace.toSeq, ident.name),
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(ident))

  /** Where a staged CREATE's files park before the table exists: the
    * explicit LOCATION when given, else the default warehouse shape
    * (only the staging dir placement — createTable re-derives the
    * final dir itself, root option included). */
  private[sources] def plannedLocation(
      ident: Identifier, properties: util.Map[String, String]): String =
    Option(properties.get("location")).getOrElse(
      (workDir.resolve("warehouse").toString +:
        ident.namespace.toSeq :+ ident.name).mkString("/"))

  /** Bind `dir` as `graft.<db>.<table>` in SQL, and (idempotently) bind
    * the `graft` catalog name in the session. JVM-wide, like the
    * session catalog's temp views. */
  def register(
      spark: SparkSession, db: String, table: String, dir: String,
      partCol: Option[String] = None,
      keyCol: Option[String] = None): Unit = {
    registry.put((Seq(db), table), GraftTableSpec(dir, partCol, keyCol))
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
  }

  def unregister(db: String, table: String): Unit =
    registry.remove((Seq(db), table)): Unit

  /** Per-JVM scratch root (the ChangeFeed pattern: one temp dir per
    * process, removed at exit; state reset per invocation inside the
    * query for bench determinism). */
  private lazy val workDir: java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory("graft-sql-catalog")
    sys.addShutdownHook {
      def del(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(del)); f.delete(): Unit
      }
      del(d.toFile)
    }
    d
  }

  val defs: Seq[QueryDef] = Seq(
    // The SQL front door, hash-gated end to end: commit orders as a
    // partitioned table (v0), stamp an instant, apply a delete+upsert
    // merge (v1), register the table as graft.lake.<t>, then read FOUR
    // states PURELY through spark.sql — VERSION AS OF 0 and 1,
    // TIMESTAMP AS OF the stamped instant (must resolve v0 through the
    // same header-stamp scan as the library), and a latest read with a
    // partition-equality WHERE (the manifest-pruned path; pruning
    // itself is plan-asserted in GraftCatalogSpec). The oracle
    // recomputes every state closed-form from the source, so a catalog
    // that resolves the wrong version, loses the merge's deletes
    // through the V1 bridge, or drops rows while pruning breaks the
    // hash.
    QueryDef.sql("q102_sql_catalog",
      """WITH v1 AS (
        |  SELECT o_orderstatus,
        |         CASE WHEN o_orderstatus = 'F' AND o_orderkey % 10 = 3
        |              THEN o_totalprice + 100 ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 10 = 7))
        |SELECT 'version0' AS probe, o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 'version1' AS probe, o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM v1 GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 'ts_after_v0' AS probe, o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 'pruned_f' AS probe, o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM v1 WHERE o_orderstatus = 'F' GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      val tbl = "q102_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      // fixture (two committed versions + the registration) cached per
      // (JVM, dir): the entry times the four SQL READ states, not a
      // repeated rebuild (FixtureCache doc)
      val (store, t0) = graft.FixtureCache.once("q102", dir) {
        val st = workDir.resolve(tbl).toString
        val hfs = graft.streaming.VersionedStore.fs(s, st)
        hfs.delete(new org.apache.hadoop.fs.Path(st), true)
        val orders = Tables.orders(s, dir)
        PartitionedTable.commit(s, st, orders, "o_orderstatus")
        val cut = System.currentTimeMillis()
        Thread.sleep(2) // v1's header stamp must land strictly after cut
        val touched = col("o_orderkey") % 10
        val inF = col("o_orderstatus") === "F"
        val batch = orders.filter(inF && touched.isin(3, 7))
          .withColumn("o_totalprice",
            functions.when(touched === 3, col("o_totalprice") + 100)
              .otherwise(col("o_totalprice")))
          .withColumn("op",
            functions.when(touched === 7, "delete").otherwise("upsert"))
        PartitionedTable.merge(s, st, batch, "o_orderkey", "o_orderstatus")
        register(s, "lake", tbl, st, partCol = Some("o_orderstatus"))
        (st, cut)
      }
      val _ = store
      val ts0 = java.time.format.DateTimeFormatter
        .ofPattern("uuuu-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(t0))
      def agg(probe: String, from: String) = s.sql(
        s"""SELECT '$probe' AS probe, o_orderstatus,
           |       CAST(count(*) AS BIGINT) AS n_rows,
           |       round(sum(o_totalprice), 2) AS rev
           |FROM $from GROUP BY o_orderstatus""".stripMargin)
      agg("version0", s"graft.lake.$tbl VERSION AS OF 0")
        .unionByName(agg("version1", s"graft.lake.$tbl VERSION AS OF 1"))
        .unionByName(agg("ts_after_v0",
          s"graft.lake.$tbl TIMESTAMP AS OF '$ts0'"))
        .unionByName(agg("pruned_f",
          s"graft.lake.$tbl WHERE o_orderstatus = 'F'"))
    },

    // Generated-rule pruning through the SQL front door, hash-gated:
    // commit orders under a generated MONTH rule, register it, and
    // probe with the predicate users actually write — WHERE
    // o_orderdate BETWEEN two MID-month instants, via spark.sql. The
    // catalog scan routes the pushed closed range through
    // readWhereSrcLevels (a one-level spec), so the manifest keeps only
    // in-range months (the dirs-opened claim is plan-asserted in
    // GraftCatalogSpec, evolved tables included) while the residual
    // keeps the mid-month bounds exact. The oracle filters the source directly — a catalog that
    // loses the source-range mapping (falling back to a full scan
    // would still hash right, so the SPEC pins the pruning; this gate
    // pins exactness through the SQL path).
    QueryDef.sql("q106_sql_generated",
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders
        |WHERE o_orderdate BETWEEN DATE '1996-03-10' AND DATE '1996-07-20'
        |GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      val tbl = "q106_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      // fixture cached per (JVM, dir): the entry times the generated-
      // rule-pruned SQL read, not a repeated commit (FixtureCache doc)
      graft.FixtureCache.once("q106", dir) {
      val store = workDir.resolve(tbl).toString
      val hfs = graft.streaming.VersionedStore.fs(s, store)
      hfs.delete(new org.apache.hadoop.fs.Path(store), true)
      // fixture = the 1996 window only (12 month partitions, not the
      // full ~84): the probe range sits strictly inside it, so the
      // oracle — which filters the raw source by the SAME range — is
      // unchanged, and the entry times the catalog's pruned read, not
      // an oversized commit
      val orders = Tables.orders(s, dir).select(
        "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice")
        .filter(col("o_orderdate") >= to_date(lit("1996-01-01")) &&
          col("o_orderdate") < to_date(lit("1997-01-01")))
      PartitionedTable.commitLevels(s, store, orders, Seq(
        PartitionedTable.GenLevel("o_orderdate",
          PartitionedTable.PartGen.Month, "pm")),
        statsCols = Seq("o_orderdate"))
      register(s, "lake", tbl, store, partCol = Some("pm"))
      }
      s.sql(
        s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
           |       round(sum(o_totalprice), 2) AS rev
           |FROM graft.lake.$tbl
           |WHERE o_orderdate BETWEEN DATE '1996-03-10' AND DATE '1996-07-20'
           |GROUP BY o_orderpriority""".stripMargin)
    },

    // MULTI-LEVEL source-column pruning through the SQL front door,
    // hash-gated: commit one year of orders under a TWO-LEVEL spec
    // (status prefix / order month), register it, and probe with the
    // predicate shape users actually write — `WHERE o_orderstatus = 'F'
    // AND o_orderdate BETWEEN two MID-month instants` — via spark.sql.
    // The catalog scan routes BOTH closed constraints through
    // readWhereSrcLevels, so the manifest keeps only the intersection
    // (one status × in-range months; dirs-opened is plan-asserted in
    // GraftCatalogSpec, evolution included) while the residual keeps
    // the mid-month bounds and the equality exact. The oracle filters
    // the source directly — this gate pins exactness through the SQL
    // path at any pruning coarseness.
    QueryDef.sql("q110_sql_levels",
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders
        |WHERE o_orderstatus = 'F'
        |  AND o_orderdate BETWEEN DATE '1997-02-10' AND DATE '1997-05-20'
        |GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      val tbl = "q110_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      // fixture cached per (JVM, dir), as q106
      graft.FixtureCache.once("q110", dir) {
      val store = workDir.resolve(tbl).toString
      val hfs = graft.streaming.VersionedStore.fs(s, store)
      hfs.delete(new org.apache.hadoop.fs.Path(store), true)
      // fixture = the 1997 window (the probe sits strictly inside it,
      // so the oracle filtering the raw source by the same predicates
      // is unchanged and the entry times the pruned read)
      val orders = Tables.orders(s, dir).select(
        "o_orderkey", "o_orderstatus", "o_orderdate", "o_orderpriority",
        "o_totalprice")
        .filter(col("o_orderdate") >= to_date(lit("1997-01-01")) &&
          col("o_orderdate") < to_date(lit("1998-01-01")))
      PartitionedTable.commitLevels(s, store, orders, Seq(
        PartitionedTable.GenLevel("o_orderstatus",
          PartitionedTable.PartGen.Prefix(1), "ps"),
        PartitionedTable.GenLevel("o_orderdate",
          PartitionedTable.PartGen.Month, "pm")),
        statsCols = Seq("o_orderdate"))
      register(s, "lake", tbl, store,
        partCol = Some(PartitionedTable.LevelsPartName))
      }
      s.sql(
        s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
           |       round(sum(o_totalprice), 2) AS rev
           |FROM graft.lake.$tbl
           |WHERE o_orderstatus = 'F'
           |  AND o_orderdate BETWEEN DATE '1997-02-10' AND DATE '1997-05-20'
           |GROUP BY o_orderpriority""".stripMargin)
    },

    // The flagship star join (q11) run PURELY through the engine's own
    // catalog, hash-gated against q11's exact oracle: the five TPC-H
    // tables commit once per (JVM, dir) as partition-scoped graft
    // tables (lineitem by returnflag, orders by status, customer by
    // market segment, nation/region by name — the fixture-cache
    // pattern) and the five-way star with its broadcast-dim hints runs
    // as one spark.sql statement over graft.tpch.*. A reference user's
    // end state — a catalog-registered star queried through SQL
    // (loadToWarehouse.py:44-78) — on the engine's own substrate; the
    // flights-pipeline twin is spec'd in PipelineSpec via
    // Warehouse.registerGraft/starRevenueSql.
    QueryDef.sql("q111_sql_star_revenue",
      """SELECT r_name, n_name,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin) { (s, dir) =>
      val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
      graft.FixtureCache.once("q111", dir) {
        def mirror(name: String, df: DataFrame, pc: String): Unit = {
          val st = workDir.resolve(s"q111_${name}_$sfx").toString
          graft.streaming.VersionedStore.fs(s, st)
            .delete(new org.apache.hadoop.fs.Path(st), true)
          PartitionedTable.commit(s, st, df, pc)
          register(s, "tpch", s"${name}_$sfx", st, partCol = Some(pc))
        }
        mirror("lineitem", Tables.lineitem(s, dir), "l_returnflag")
        mirror("orders", Tables.orders(s, dir), "o_orderstatus")
        mirror("customer", Tables.customer(s, dir), "c_mktsegment")
        mirror("nation", Tables.nation(s, dir), "n_name")
        mirror("region", Tables.region(s, dir), "r_name")
      }
      // No broadcast hints: the manifest statistics the scans report
      // (GraftScanStats) make the planner broadcast the small dims on
      // its own — the 100 TB posture, where hand-hinting every star
      // query is exactly what a lakehouse's stats should replace.
      s.sql(
        s"""SELECT r_name, n_name,
           |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           |       count(*) AS n_items
           |FROM graft.tpch.lineitem_$sfx lineitem
           |JOIN graft.tpch.orders_$sfx orders
           |  ON l_orderkey = o_orderkey
           |JOIN graft.tpch.customer_$sfx customer
           |  ON o_custkey = c_custkey
           |JOIN graft.tpch.nation_$sfx nation
           |  ON c_nationkey = n_nationkey
           |JOIN graft.tpch.region_$sfx region
           |  ON n_regionkey = r_regionkey
           |GROUP BY r_name, n_name""".stripMargin)
    },

    // The SQL WRITE path, hash-gated against the library path: two
    // identical stores; one takes the three-clause MERGE (q103's exact
    // shape) through spark.sql — `MERGE INTO graft.lake.t USING src ON
    // tgt.key = src.key AND tgt.part = src.part WHEN MATCHED [AND …]
    // THEN UPDATE/DELETE WHEN NOT MATCHED THEN INSERT *` riding the
    // row-level-operation rewrite onto the snapshot-pinned changelog
    // merge — the other the library MergeInto call. Both final states
    // aggregate side by side under 'sql'/'library' probes; the oracle
    // computes the closed form ONCE and emits it under both probes, so
    // the gate breaks if EITHER path is wrong OR the two paths diverge
    // (clause precedence, unnamed-column preservation, insert routing,
    // version forging — byte-level commit equivalence is spec'd in
    // GraftWritesSpec, incl. the OCC conflict failing loud).
    QueryDef.sql("q107_sql_merge",
      """WITH upd AS (
        |  SELECT o_orderstatus, o_totalprice + 50 AS p FROM orders
        |  WHERE o_orderkey % 10 = 3 AND o_totalprice > 150000),
        |kept AS (
        |  SELECT o_orderstatus, o_totalprice AS p FROM orders
        |  WHERE o_orderkey % 10 <> 3),
        |ins AS (
        |  SELECT o_orderstatus, 42.0 AS p FROM orders
        |  WHERE o_orderkey % 10 = 1 AND o_orderstatus = 'O'),
        |fin AS (
        |  SELECT * FROM upd UNION ALL SELECT * FROM kept
        |  UNION ALL SELECT * FROM ins),
        |agg AS (
        |  SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
        |         round(sum(p), 2) AS rev
        |  FROM fin GROUP BY o_orderstatus)
        |SELECT 'sql' AS probe, * FROM agg
        |UNION ALL
        |SELECT 'library' AS probe, * FROM agg""".stripMargin) { (s, dir) =>
      val tbl = "q107_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      val sqlStore = workDir.resolve(tbl + "_sql").toString
      val libStore = workDir.resolve(tbl + "_lib").toString
      // base v0 committed ONCE per (JVM, dir); each pass takes a
      // METADATA-ONLY shallow clone per side, so the entry times the
      // MERGE paths (and dogfoods copy-on-write clones), not two full
      // orders commits
      val base = graft.FixtureCache.once("q107", dir) {
        val b = workDir.resolve(tbl + "_base").toString
        graft.streaming.VersionedStore.fs(s, b)
          .delete(new org.apache.hadoop.fs.Path(b), true)
        PartitionedTable.commit(s, b, Tables.orders(s, dir), "o_orderstatus")
        b
      }
      val hfs = graft.streaming.VersionedStore.fs(s, sqlStore)
      Seq(sqlStore, libStore).foreach { st =>
        hfs.delete(new org.apache.hadoop.fs.Path(st), true)
        PartitionedTable.cloneTable(s, base, st)
      }
      val orders = Tables.orders(s, dir)
      val touched = col("o_orderkey") % 10
      val src = orders.filter(touched === 3)
        .withColumn("bump", lit(50.0))
        .unionByName(orders
          .filter(touched === 1 && col("o_orderstatus") === "O")
          .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
          .withColumn("o_totalprice", lit(42.0))
          .withColumn("bump", lit(0.0)))
      register(s, "lake", tbl, sqlStore,
        partCol = Some("o_orderstatus"), keyCol = Some("o_orderkey"))
      src.createOrReplaceTempView(s"${tbl}_src")
      s.sql(
        s"""MERGE INTO graft.lake.$tbl AS tgt USING ${tbl}_src AS src
           |ON tgt.o_orderkey = src.o_orderkey
           |   AND tgt.o_orderstatus = src.o_orderstatus
           |WHEN MATCHED AND tgt.o_totalprice > 150000
           |  THEN UPDATE SET o_totalprice = tgt.o_totalprice + src.bump
           |WHEN MATCHED THEN DELETE
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      graft.operators.MergeInto(s, libStore, src, "o_orderkey", "o_orderstatus",
        matched = Seq(
          graft.operators.MergeInto.updateWhen(col("tgt.o_totalprice") > 150000,
            Map("o_totalprice" -> (col("tgt.o_totalprice") + col("src.bump")))),
          graft.operators.MergeInto.delete),
        notMatched = Some(graft.operators.MergeInto.insertAll))
      def agg(probe: String, st: String) = PartitionedTable.read(s, st)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("o_totalprice"), 2).as("rev"))
        .select(lit(probe).as("probe"), col("o_orderstatus"),
          col("n_rows"), col("rev"))
      agg("sql", sqlStore).unionByName(agg("library", libStore))
    },

    // The change feed through SQL (`t$changes`, the third metadata
    // table), hash-gated: commit orders (v0), a mixed merge on 'F'
    // (≡3 update +100, ≡7 delete, ≡1 insert as key+10^8 — v1), a
    // delete-only merge on 'O' (≡2, the DV route — v2), an update-only
    // merge on 'O' (≡4, +7 — v3), then aggregate the WINDOWED feed
    // `WHERE _commit_version BETWEEN 2 AND 3` purely through spark.sql.
    // The pushed bounds decide the feed range at plan time (v1 is never
    // diffed — spec'd in GraftCatalogSpec); the oracle recomputes v2/v3's
    // event slices closed-form, so a feed that leaks v1 events past the
    // lower bound, loses a DV delete, or mis-attributes a version
    // breaks the hash.
    QueryDef.sql("q108_sql_changes",
      """WITH ev AS (
        |  SELECT 2 AS commit_version, 'delete' AS op, o_totalprice AS price
        |  FROM orders WHERE o_orderstatus = 'O' AND o_orderkey % 10 = 2
        |  UNION ALL
        |  SELECT 3, 'update', o_totalprice + 7
        |  FROM orders WHERE o_orderstatus = 'O' AND o_orderkey % 10 = 4)
        |SELECT commit_version, op, CAST(count(*) AS BIGINT) AS n_events,
        |       round(sum(price), 2) AS total
        |FROM ev GROUP BY commit_version, op""".stripMargin) { (s, dir) =>
      val tbl = "q108_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      val store = workDir.resolve(tbl).toString
      val hfs = graft.streaming.VersionedStore.fs(s, store)
      hfs.delete(new org.apache.hadoop.fs.Path(store), true)
      val orders = Tables.orders(s, dir)
      PartitionedTable.commit(s, store, orders, "o_orderstatus")
      val touched = col("o_orderkey") % 10
      val inF = col("o_orderstatus") === "F"
      val m1 = orders.filter(inF && touched.isin(1, 3, 7))
        .withColumn("o_totalprice",
          functions.when(touched === 3, col("o_totalprice") + 100)
            .otherwise(col("o_totalprice")))
        .withColumn("op",
          functions.when(touched === 7, "delete").otherwise("upsert"))
        .withColumn("o_orderkey",
          functions.when(touched === 1, col("o_orderkey") + 100000000L)
            .otherwise(col("o_orderkey")))
      PartitionedTable.merge(s, store, m1, "o_orderkey", "o_orderstatus") // v1
      val inO = col("o_orderstatus") === "O"
      PartitionedTable.merge(s, store,
        orders.filter(inO && touched === 2).withColumn("op", lit("delete")),
        "o_orderkey", "o_orderstatus") // v2
      PartitionedTable.merge(s, store,
        orders.filter(inO && touched === 4)
          .withColumn("o_totalprice", col("o_totalprice") + 7)
          .withColumn("op", lit("upsert")),
        "o_orderkey", "o_orderstatus") // v3
      register(s, "lake", tbl, store,
        partCol = Some("o_orderstatus"), keyCol = Some("o_orderkey"))
      s.sql(
        s"""SELECT CAST(_commit_version AS INT) AS commit_version, op,
           |       CAST(count(*) AS BIGINT) AS n_events,
           |       round(sum(o_totalprice), 2) AS total
           |FROM graft.lake.`$tbl$$changes`
           |WHERE _commit_version BETWEEN 2 AND 3
           |GROUP BY CAST(_commit_version AS INT), op""".stripMargin)
    },

    // SQL DDL end to end (round 14), hash-gated: the full lifecycle a
    // warehouse operator runs — CTAS (declares the table AND commits
    // v0 from the query), ALTER TABLE ADD COLUMN (metadata-only; old
    // rows null-fill at the declared type), an INSERT materializing
    // the new column, ALTER TABLE RENAME COLUMN (rename-chain
    // mapping, zero data movement), then an UPDATE through the
    // row-level path against the POST-rename schema. The oracle
    // recomputes the final state closed-form from orders, so a CTAS
    // that drops rows, an ADD COLUMN that surfaces wrong-typed or
    // non-null values on old rows, a rename that loses pre-rename
    // files' column, or an UPDATE that misses/over-matches after the
    // rename each break the hash. DROP TABLE re-entrancy: each run
    // drops and re-creates, exercising createTable's clean-slate
    // contract too (the entry times DDL+DML writes by design — the
    // write path IS the query).
    QueryDef.sql("q112_sql_ddl",
      """WITH rows_ AS (
        |  SELECT o_orderstatus,
        |         o_totalprice AS price,
        |         CASE WHEN o_totalprice > 300000 THEN 'hot'
        |              WHEN o_orderkey % 4 = 0 THEN 'late'
        |              ELSE NULL END AS badge
        |  FROM orders)
        |SELECT o_orderstatus, badge,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(price), 2) AS rev
        |FROM rows_ GROUP BY o_orderstatus, badge""".stripMargin) { (s, dir) =>
      val tbl = "q112_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      val store = workDir.resolve(tbl).toString
      if (s.conf.getOption("spark.sql.catalog.graft").isEmpty)
        s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
      s.sql(s"DROP TABLE IF EXISTS graft.ddl.$tbl")
      graft.streaming.VersionedStore.fs(s, store)
        .delete(new org.apache.hadoop.fs.Path(store), true)
      Tables.orders(s, dir).createOrReplaceTempView(s"${tbl}_orders")
      s.sql(
        s"""CREATE TABLE graft.ddl.$tbl PARTITIONED BY (o_orderstatus)
           |LOCATION '$store' TBLPROPERTIES ('keycol' = 'o_orderkey')
           |AS SELECT o_orderkey, o_orderstatus, o_totalprice
           |FROM ${tbl}_orders WHERE o_orderkey % 4 <> 0""".stripMargin)
      s.sql(s"ALTER TABLE graft.ddl.$tbl ADD COLUMN badge STRING")
      s.sql(
        s"""INSERT INTO graft.ddl.$tbl
           |SELECT o_orderkey, o_orderstatus, o_totalprice, 'late'
           |FROM ${tbl}_orders WHERE o_orderkey % 4 = 0""".stripMargin)
      s.sql(s"ALTER TABLE graft.ddl.$tbl RENAME COLUMN o_totalprice TO price")
      s.sql(s"UPDATE graft.ddl.$tbl SET badge = 'hot' WHERE price > 300000")
      s.sql(
        s"""SELECT o_orderstatus, badge,
           |       CAST(count(*) AS BIGINT) AS n_rows,
           |       round(sum(price), 2) AS rev
           |FROM graft.ddl.$tbl
           |GROUP BY o_orderstatus, badge""".stripMargin)
    },

    // Hidden-partitioning DDL, hash-gated: CREATE TABLE PARTITIONED BY
    // (months(o_orderdate)) binds the Iceberg-style transform onto the
    // generated-rule machinery — the INSERT ships only source columns
    // (the engine derives part_month), and the probe is the predicate
    // users actually write: WHERE o_orderdate BETWEEN two mid-month
    // instants, pruned at the manifest through readWhereSrcLevels (the
    // dirs-opened claim is plan-asserted in GraftDdlSpec). The oracle
    // recomputes the window closed-form from orders, so a transform
    // that mis-derives the partition, a first-commit that drops rows,
    // or a pruning read that loses mid-month boundary rows breaks the
    // hash.
    QueryDef.sql("q113_sql_ddl_generated",
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-03-10 00:00:00'
        |  AND o_orderdate <= TIMESTAMP '1996-06-20 00:00:00'
        |GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      val tbl = "q113_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      val store = workDir.resolve(tbl).toString
      if (s.conf.getOption("spark.sql.catalog.graft").isEmpty)
        s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
      graft.FixtureCache.once("q113", dir) {
        s.sql(s"DROP TABLE IF EXISTS graft.ddl.$tbl")
        graft.streaming.VersionedStore.fs(s, store)
          .delete(new org.apache.hadoop.fs.Path(store), true)
        Tables.orders(s, dir).createOrReplaceTempView(s"${tbl}_orders")
        s.sql(
          s"""CREATE TABLE graft.ddl.$tbl (o_orderkey BIGINT,
             |o_orderstatus STRING, o_totalprice DOUBLE,
             |o_orderdate TIMESTAMP) PARTITIONED BY (months(o_orderdate))
             |LOCATION '$store' TBLPROPERTIES ('keycol' = 'o_orderkey')
             |""".stripMargin)
        s.sql(
          s"""INSERT INTO graft.ddl.$tbl
             |SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
             |FROM ${tbl}_orders""".stripMargin)
      }
      s.sql(
        s"""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
           |       round(sum(o_totalprice), 2) AS rev
           |FROM graft.ddl.$tbl
           |WHERE o_orderdate >= TIMESTAMP '1996-03-10 00:00:00'
           |  AND o_orderdate <= TIMESTAMP '1996-06-20 00:00:00'
           |GROUP BY o_orderstatus""".stripMargin)
    },

    // Maintenance procedures through SQL, hash-gated: commit orders
    // (v0), corrupt it with a delete+bump merge (v1), run
    // `CALL graft.system.restore(version => 0)` (v2 = v0's content,
    // metadata-only) and `CALL graft.system.vacuum(keep => 1)` (v0/v1
    // GC'd, orphan stores collected), then aggregate the LATEST state
    // purely through spark.sql. The oracle is the pristine orders
    // aggregate — a restore that resolves the wrong mapping, loses a
    // partition pointer, or a vacuum that GCs a store version the
    // restored manifest still references (the subtle bug class: v2
    // re-references v0's store dirs) breaks the hash or the read
    // itself. The CALL summaries are cross-checked in
    // GraftProceduresSpec; this entry gates the data path.
    QueryDef.sql("q114_sql_procedures",
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      val tbl = "q114_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      val store = workDir.resolve(tbl).toString
      if (s.conf.getOption("spark.sql.catalog.graft").isEmpty)
        s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
      // base v0 committed ONCE per (JVM, dir); each pass clones it
      // (metadata-only) so the entry times corrupt→restore→vacuum, not
      // a repeated full commit — and vacuum's GC runs against a CLONE,
      // proving it collects only LOCAL store versions
      val base = graft.FixtureCache.once("q114", dir) {
        val b = workDir.resolve(tbl + "_base").toString
        graft.streaming.VersionedStore.fs(s, b)
          .delete(new org.apache.hadoop.fs.Path(b), true)
        PartitionedTable.commit(s, b, Tables.orders(s, dir), "o_orderstatus")
        b
      }
      graft.streaming.VersionedStore.fs(s, store)
        .delete(new org.apache.hadoop.fs.Path(store), true)
      PartitionedTable.cloneTable(s, base, store) // v0
      val orders = Tables.orders(s, dir)
      val touched = col("o_orderkey") % 10
      PartitionedTable.merge(s, store, // v1: corrupt F
        orders.filter(col("o_orderstatus") === "F" && touched.isin(3, 7))
          .withColumn("o_totalprice", col("o_totalprice") + 1000)
          .withColumn("op",
            functions.when(touched === 7, "delete").otherwise("upsert")),
        "o_orderkey", "o_orderstatus")
      register(s, "lake", tbl, store, partCol = Some("o_orderstatus"))
      s.sql(s"CALL graft.system.restore(table => 'lake.$tbl', version => 0)")
        .collect()
      s.sql(s"CALL graft.system.vacuum(table => 'lake.$tbl', keep => 1)")
        .collect()
      s.sql(
        s"""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
           |       round(sum(o_totalprice), 2) AS rev
           |FROM graft.lake.$tbl GROUP BY o_orderstatus""".stripMargin)
    },

    // SQL partition ops + TRUNCATE, hash-gated end to end: a
    // status-partitioned mirror of orders (fixture-cached base, cloned
    // per pass), ALTER TABLE DROP PARTITION one status (a
    // METADATA-ONLY manifest commit — no file moves at
    // any scale), TRUNCATE (same), and gate THREE probes at once: the
    // post-drop aggregate, the post-truncate emptiness (count over the
    // empty table version, whose schema must still resolve), and the
    // time-travel re-read of the post-drop version AFTER the truncate
    // (dropped/truncated slices stay readable until vacuum). The
    // oracle computes the closed form from orders, so a drop that
    // loses the wrong partition, a truncate that breaks time travel,
    // or an empty-version read that forgets the schema all break the
    // hash.
    QueryDef.sql("q115_sql_partition_ops",
      """WITH agg AS (
        |  SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
        |         round(sum(o_totalprice), 2) AS rev
        |  FROM orders WHERE o_orderstatus <> 'F'
        |  GROUP BY o_orderstatus)
        |SELECT 'dropped' AS probe, * FROM agg
        |UNION ALL
        |SELECT 'time_travel' AS probe, * FROM agg
        |UNION ALL
        |SELECT 'truncated' AS probe, 'ALL' AS o_orderstatus,
        |       CAST(0 AS BIGINT) AS n_rows, 0.0 AS rev""".stripMargin) { (s, dir) =>
      val tbl = "q115_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      val store = workDir.resolve(tbl).toString
      if (s.conf.getOption("spark.sql.catalog.graft").isEmpty)
        s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
      // base v0 (the CTAS result's content) committed ONCE per
      // (JVM, dir); each pass re-clones it metadata-only so the entry
      // times the PARTITION OPS — which are themselves metadata-only —
      // not a repeated full build (the SQL CTAS write path keeps its
      // own per-pass gate in q112)
      val base = graft.FixtureCache.once("q115", dir) {
        val b = workDir.resolve(tbl + "_base").toString
        graft.streaming.VersionedStore.fs(s, b)
          .delete(new org.apache.hadoop.fs.Path(b), true)
        PartitionedTable.commit(s, b, Tables.orders(s, dir)
          .select("o_orderkey", "o_orderstatus", "o_totalprice"),
          "o_orderstatus")
        b
      }
      GraftCatalog.unregister("lake", tbl)
      graft.streaming.VersionedStore.fs(s, store)
        .delete(new org.apache.hadoop.fs.Path(store), true)
      PartitionedTable.cloneTable(s, base, store) // v0
      register(s, "lake", tbl, store, partCol = Some("o_orderstatus"))
      s.sql(s"ALTER TABLE graft.lake.$tbl DROP PARTITION " +
        "(o_orderstatus='F')") // v1, metadata-only
      val postDrop = PartitionedTable.latest(s, store).get
      // snapshot isolation probe: this DataFrame is ANALYZED before the
      // truncate, so its plan object pins v1 — evaluating it lazily
      // after the truncate must still see the post-drop rows. (A temp
      // VIEW would not do: views re-resolve their relations by
      // identifier on every read — view semantics — and would see the
      // truncated latest.)
      val dropped = s.sql(
        s"""SELECT 'dropped' AS probe, o_orderstatus,
           |       CAST(count(*) AS BIGINT) AS n_rows,
           |       round(sum(o_totalprice), 2) AS rev
           |FROM graft.lake.$tbl GROUP BY o_orderstatus""".stripMargin)
      s.sql(s"TRUNCATE TABLE graft.lake.$tbl") // v2, metadata-only
      dropped.unionAll(s.sql(
        s"""SELECT 'time_travel' AS probe, o_orderstatus,
           |       CAST(count(*) AS BIGINT) AS n_rows,
           |       round(sum(o_totalprice), 2) AS rev
           |FROM graft.lake.$tbl VERSION AS OF $postDrop
           |GROUP BY o_orderstatus
           |UNION ALL
           |SELECT 'truncated' AS probe, 'ALL' AS o_orderstatus,
           |       CAST(count(*) AS BIGINT) AS n_rows,
           |       round(coalesce(sum(o_totalprice), 0.0), 2) AS rev
           |FROM graft.lake.$tbl""".stripMargin))
    },

    // RUNTIME (join-driven) partition pruning through the SQL front
    // door, hash-gated against q95's exact oracle: customer commits
    // partitioned by nation key, nation/region stay plain temp views,
    // and the star runs as ONE spark.sql statement with NO library
    // call and NO partition predicate — the GraftRuntimePrune rule
    // attaches the dim subquery to the fact scan, which resolves the 5
    // surviving EUROPE keys driver-side at execution planning and
    // keeps 5 of 25 manifest partitions (never-listed/never-opened is
    // inputFiles-asserted in GraftRuntimePruneSpec, together with the
    // rule-disabled A/B). The oracle joins the raw tables, so pruning
    // that drops a matching partition or keeps a row it shouldn't
    // breaks the hash.
    QueryDef.sql("q116_sql_join_pruned",
      """SELECT n.n_name, CAST(count(*) AS BIGINT) AS n_cust,
        |       round(sum(c.c_acctbal), 2) AS bal
        |FROM customer c
        |JOIN nation n ON CAST(c.c_nationkey AS VARCHAR) = CAST(n.n_nationkey AS VARCHAR)
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'EUROPE'
        |GROUP BY n.n_name""".stripMargin) { (s, dir) =>
      val tbl = "q116_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      // fixture (the committed fact + registration) cached per
      // (JVM, dir): the entry times the runtime-pruned SQL star
      graft.FixtureCache.once("q116", dir) {
        val store = workDir.resolve(tbl).toString
        graft.streaming.VersionedStore.fs(s, store)
          .delete(new org.apache.hadoop.fs.Path(store), true)
        val customer = Tables.customer(s, dir).withColumn("c_nationkey",
          col("c_nationkey").cast(org.apache.spark.sql.types.StringType))
        PartitionedTable.commit(s, store, customer, "c_nationkey")
        register(s, "lake", tbl, store, partCol = Some("c_nationkey"))
      }
      Tables.nation(s, dir).createOrReplaceTempView(s"${tbl}_nation")
      Tables.region(s, dir).createOrReplaceTempView(s"${tbl}_region")
      s.sql(
        s"""SELECT d.n_name, CAST(count(*) AS BIGINT) AS n_cust,
           |       round(sum(c.c_acctbal), 2) AS bal
           |FROM graft.lake.$tbl c
           |JOIN (SELECT CAST(n.n_nationkey AS STRING) AS nk, n.n_name
           |      FROM ${tbl}_nation n
           |      JOIN ${tbl}_region r ON n.n_regionkey = r.r_regionkey
           |      WHERE r.r_name = 'EUROPE') d
           |  ON c.c_nationkey = d.nk
           |GROUP BY d.n_name""".stripMargin)
    },

    // ALTER TABLE ADD COLUMN ... DEFAULT, hash-gated end to end: CTAS a
    // status-partitioned mirror (v0), add `badge STRING DEFAULT
    // 'legacy'` (one sidecar write, zero data movement), INSERT rows
    // OMITTING the column (the analyzer resolves CURRENT_DEFAULT from
    // the schema overlay → they materialize 'legacy'), INSERT rows
    // carrying an explicit badge, then gate TWO probes: the head state
    // (pre-add rows must READ the default — their files lack the
    // column, the read coalesces) and the time-travel read of v0 (the
    // engine's table-wide column contract: old versions surface the
    // added column at its default). The oracle recomputes both
    // closed-form, so a default that leaks null into old rows, an
    // omitted-column INSERT that lands null, or a coalesce that
    // repaints the explicit badge breaks the hash. (Strict-type and
    // explicit-null refusals are spec'd in GraftWritesSpec.)
    QueryDef.sql("q117_sql_add_default",
      """WITH head AS (
        |  SELECT o_orderstatus,
        |         CASE WHEN o_orderkey % 4 = 0 AND o_orderstatus = 'F'
        |              THEN 'fresh' ELSE 'legacy' END AS badge,
        |         o_totalprice
        |  FROM orders)
        |SELECT 'head' AS probe, o_orderstatus, badge,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM head GROUP BY o_orderstatus, badge
        |UNION ALL
        |SELECT 'time_travel' AS probe, o_orderstatus, 'legacy' AS badge,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders WHERE o_orderkey % 4 <> 0
        |GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      val tbl = "q117_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      val store = workDir.resolve(tbl).toString
      if (s.conf.getOption("spark.sql.catalog.graft").isEmpty)
        s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
      s.sql(s"DROP TABLE IF EXISTS graft.ddl.$tbl")
      graft.streaming.VersionedStore.fs(s, store)
        .delete(new org.apache.hadoop.fs.Path(store), true)
      Tables.orders(s, dir).createOrReplaceTempView(s"${tbl}_orders")
      s.sql(
        s"""CREATE TABLE graft.ddl.$tbl PARTITIONED BY (o_orderstatus)
           |LOCATION '$store'
           |AS SELECT o_orderkey, o_orderstatus, o_totalprice
           |FROM ${tbl}_orders WHERE o_orderkey % 4 <> 0""".stripMargin) // v0
      s.sql(s"ALTER TABLE graft.ddl.$tbl " +
        "ADD COLUMN badge STRING DEFAULT 'legacy'")
      s.sql( // omitted column: the analyzer fills the DEFAULT
        s"""INSERT INTO graft.ddl.$tbl (o_orderkey, o_orderstatus, o_totalprice)
           |SELECT o_orderkey, o_orderstatus, o_totalprice
           |FROM ${tbl}_orders
           |WHERE o_orderkey % 4 = 0 AND o_orderstatus <> 'F'""".stripMargin)
      s.sql( // explicit value: materializes next to coalesced old rows
        s"""INSERT INTO graft.ddl.$tbl
           |SELECT o_orderkey, o_orderstatus, o_totalprice, 'fresh'
           |FROM ${tbl}_orders
           |WHERE o_orderkey % 4 = 0 AND o_orderstatus = 'F'""".stripMargin)
      s.sql(
        s"""SELECT 'head' AS probe, o_orderstatus, badge,
           |       CAST(count(*) AS BIGINT) AS n_rows,
           |       round(sum(o_totalprice), 2) AS rev
           |FROM graft.ddl.$tbl GROUP BY o_orderstatus, badge
           |UNION ALL
           |SELECT 'time_travel' AS probe, o_orderstatus, badge,
           |       CAST(count(*) AS BIGINT) AS n_rows,
           |       round(sum(o_totalprice), 2) AS rev
           |FROM graft.ddl.$tbl VERSION AS OF 0
           |GROUP BY o_orderstatus, badge""".stripMargin)
    },

    // TAG time travel through SQL, hash-gated: commit orders tagged
    // 'initial_load' (v0), apply a delete+bump merge tagged 'migration'
    // (v1), then read BOTH states purely as `VERSION AS OF '<tag>'` —
    // the tag resolves through the history headers' `at` marks
    // (driver-side header scan, newest-wins; the unknown-tag loud
    // failure and same-tag-newest-wins are spec'd in GraftCatalogSpec).
    // The oracle recomputes both states closed-form from orders, so a
    // tag that resolves the wrong version — or falls through to latest
    // — breaks the hash on the 'initial_load' rows.
    QueryDef.sql("q118_sql_tag_travel",
      """WITH v1 AS (
        |  SELECT o_orderstatus,
        |         CASE WHEN o_orderstatus = 'F' AND o_orderkey % 10 = 3
        |              THEN o_totalprice + 100 ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 10 = 7))
        |SELECT 'initial_load' AS tag, o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 'migration' AS tag, o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM v1 GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      val tbl = "q118_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      // fixture (two tagged versions + registration) cached per
      // (JVM, dir): the entry times the two tag-resolved SQL reads
      graft.FixtureCache.once("q118", dir) {
        val store = workDir.resolve(tbl).toString
        graft.streaming.VersionedStore.fs(s, store)
          .delete(new org.apache.hadoop.fs.Path(store), true)
        val orders = Tables.orders(s, dir)
        PartitionedTable.commit(s, store, orders, "o_orderstatus",
          at = "initial_load")
        val touched = col("o_orderkey") % 10
        val inF = col("o_orderstatus") === "F"
        val batch = orders.filter(inF && touched.isin(3, 7))
          .withColumn("o_totalprice",
            functions.when(touched === 3, col("o_totalprice") + 100)
              .otherwise(col("o_totalprice")))
          .withColumn("op",
            functions.when(touched === 7, "delete").otherwise("upsert"))
        PartitionedTable.merge(s, store, batch, "o_orderkey",
          "o_orderstatus", at = "migration")
        register(s, "lake", tbl, store, partCol = Some("o_orderstatus"))
      }
      def agg(tag: String) = s.sql(
        s"""SELECT '$tag' AS tag, o_orderstatus,
           |       CAST(count(*) AS BIGINT) AS n_rows,
           |       round(sum(o_totalprice), 2) AS rev
           |FROM graft.lake.$tbl VERSION AS OF '$tag'
           |GROUP BY o_orderstatus""".stripMargin)
      agg("initial_load").unionByName(agg("migration"))
    },

    // RUNTIME (join-driven) pruning on a MULTI-LEVEL generated table,
    // hash-gated — the reference's bronze status×date layout
    // (ingestToBronze.py:79-84) joined the way stars actually join: a
    // two-level fact (status prefix / order-date month, EVOLVED to day
    // mid-history so the probe spans both epochs) joined on the DATE
    // level's SOURCE column against an inline calendar dim. The rule
    // attaches the dim to the scan, the scan maps the dim's surviving
    // date keys through EACH live combination's own epoch rule at the
    // date level (month partitions match by yyyy-MM truncation, day
    // partitions exactly), and only matching combinations are listed —
    // dirs-opened/inputFiles + the rule-disabled A/B are asserted in
    // GraftRuntimePruneSpec; this entry gates exactness (the oracle
    // recomputes closed-form from raw orders, so pruning that drops a
    // matching combination — e.g. attributing a day partition under
    // the month rule — breaks the hash).
    QueryDef.sql("q119_sql_levels_join_pruned",
      """SELECT o_orderstatus, CAST(o_orderdate AS DATE) AS od,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders
        |WHERE o_orderdate IN (TIMESTAMP '1996-03-15 00:00:00',
        |                      TIMESTAMP '1997-02-10 00:00:00',
        |                      TIMESTAMP '1999-05-05 00:00:00')
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
        |GROUP BY o_orderstatus, CAST(o_orderdate AS DATE)""".stripMargin) { (s, dir) =>
      val tbl = "q119_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      // fixture (two-epoch levels table + registration) cached per
      // (JVM, dir): the entry times the runtime-pruned SQL star
      graft.FixtureCache.once("q119", dir) {
        val store = workDir.resolve(tbl).toString
        graft.streaming.VersionedStore.fs(s, store)
          .delete(new org.apache.hadoop.fs.Path(store), true)
        val orders = Tables.orders(s, dir).select(
          "o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice")
        // epoch 1: 1996 under status/MONTH
        PartitionedTable.commitLevels(s, store,
          orders.filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
            && col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
          Seq(
            PartitionedTable.GenLevel("o_orderstatus",
              PartitionedTable.PartGen.Prefix(1), "ps"),
            PartitionedTable.GenLevel("o_orderdate",
              PartitionedTable.PartGen.Month, "pm")))
        // evolve the date level to DAY; epoch 2: 1997-Q1 lands as days
        PartitionedTable.evolveGenLevel(s, store, "pm",
          PartitionedTable.PartGen.Day)
        PartitionedTable.mergeLevels(s, store,
          orders.filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp")
            && col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
            .withColumn("op", lit("upsert")),
          "o_orderkey")
        register(s, "lake", tbl, store,
          partCol = Some(PartitionedTable.LevelsPartName))
      }
      s.sql(
        s"""SELECT f.o_orderstatus, CAST(f.o_orderdate AS DATE) AS od,
           |       CAST(count(*) AS BIGINT) AS n_rows,
           |       round(sum(f.o_totalprice), 2) AS rev
           |FROM graft.lake.$tbl f
           |JOIN (SELECT dt FROM VALUES
           |        (TIMESTAMP '1996-03-15 00:00:00', 'keep'),
           |        (TIMESTAMP '1997-02-10 00:00:00', 'keep'),
           |        (TIMESTAMP '1999-05-05 00:00:00', 'keep'),
           |        (TIMESTAMP '1996-05-01 00:00:00', 'skip') AS t(dt, flag)
           |      WHERE flag = 'keep') d
           |  ON f.o_orderdate = d.dt
           |GROUP BY f.o_orderstatus, CAST(f.o_orderdate AS DATE)""".stripMargin)
    },

    // SQL `MERGE WITH SCHEMA EVOLUTION`, hash-gated against q98's exact
    // oracle: the analyzer gates on the table's
    // AUTOMATIC_SCHEMA_EVOLUTION capability, derives the source's
    // missing columns (o_flag), routes them through the catalog's
    // alterTable — the same metadata-only _addcols sidecar the
    // library's allowSchemaEvolution merge uses — and rewrites the
    // merge against the widened schema. Only the touched 'F' partition
    // rewrites; untouched partitions' files keep the old schema and
    // the footer-merging read null-fills. The oracle recomputes the
    // evolved table from source, so a leaked non-null on a kept row, a
    // lost flag on an upserted row, or any price drift breaks the
    // hash. The strict-mode refusal (same merge WITHOUT the clause
    // fails analysis on the unknown target column) is spec'd in
    // GraftWritesSpec.
    QueryDef.sql("q120_sql_merge_schema_evolution",
      """WITH merged AS (
        |  SELECT o_orderstatus,
        |         CASE WHEN o_orderstatus = 'F' AND o_orderkey % 10 = 3
        |              THEN o_totalprice + 100 ELSE o_totalprice END AS o_totalprice,
        |         CASE WHEN o_orderstatus = 'F' AND o_orderkey % 10 = 3
        |              THEN 'reviewed' END AS o_flag
        |  FROM orders)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(o_flag) AS BIGINT) AS n_flagged,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM merged GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      val tbl = "q120_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      val store = workDir.resolve(tbl).toString
      if (s.conf.getOption("spark.sql.catalog.graft").isEmpty)
        s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
      // base v0 (3-column orders) committed ONCE per (JVM, dir); each
      // pass clones it metadata-only so the entry times the evolving
      // MERGE, not a repeated full commit
      val base = graft.FixtureCache.once("q120", dir) {
        val b = workDir.resolve(tbl + "_base").toString
        graft.streaming.VersionedStore.fs(s, b)
          .delete(new org.apache.hadoop.fs.Path(b), true)
        PartitionedTable.commit(s, b, Tables.orders(s, dir)
          .select("o_orderkey", "o_orderstatus", "o_totalprice"),
          "o_orderstatus")
        b
      }
      GraftCatalog.unregister("lake", tbl)
      graft.streaming.VersionedStore.fs(s, store)
        .delete(new org.apache.hadoop.fs.Path(store), true)
      PartitionedTable.cloneTable(s, base, store)
      register(s, "lake", tbl, store,
        partCol = Some("o_orderstatus"), keyCol = Some("o_orderkey"))
      Tables.orders(s, dir)
        .filter(col("o_orderstatus") === "F" && col("o_orderkey") % 10 === 3)
        .select(col("o_orderkey"), col("o_orderstatus"),
          (col("o_totalprice") + 100).as("o_totalprice"),
          lit("reviewed").as("o_flag"))
        .createOrReplaceTempView(s"${tbl}_src")
      s.sql(
        s"""MERGE WITH SCHEMA EVOLUTION INTO graft.lake.$tbl AS tgt
           |USING ${tbl}_src AS src
           |ON tgt.o_orderkey = src.o_orderkey
           |   AND tgt.o_orderstatus = src.o_orderstatus
           |WHEN MATCHED THEN UPDATE SET
           |  o_totalprice = src.o_totalprice, o_flag = src.o_flag""".stripMargin)
      s.sql(
        s"""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
           |       CAST(count(o_flag) AS BIGINT) AS n_flagged,
           |       round(sum(o_totalprice), 2) AS rev
           |FROM graft.lake.$tbl GROUP BY o_orderstatus""".stripMargin)
    },

    // TWO-DIM runtime pruning on the multi-level table, hash-gated —
    // the reference's bronze status×date layout (ingestToBronze
    // .py:79-84) queried as a star on BOTH axes: a status dim joins
    // the status level's SOURCE column AND a calendar dim joins the
    // date level's, and the rule attaches one obligation per dim to
    // the ONE fact scan, whose surviving-combination sets INTERSECT at
    // the manifest (each alone keeps a full row/column of the
    // status×date grid; together only the crossing cells are ever
    // listed — dirs-opened strictly-below-either-axis, the one-dim-
    // two-keys variant, and the rule-disabled A/B are asserted in
    // GraftRuntimePruneSpec's two-dim test). Same two-epoch fixture
    // shape as q119 (month → day mid-history), so the intersection
    // must also attribute each combination under ITS epoch rule. The
    // oracle recomputes closed-form from raw orders, so pruning that
    // drops a surviving (status, date) cell — or keeps a row either
    // dim excluded — breaks the hash.
    QueryDef.sql("q121_sql_two_dim_pruned",
      """SELECT o_orderstatus, CAST(o_orderdate AS DATE) AS od,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders
        |WHERE o_orderdate IN (TIMESTAMP '1996-03-15 00:00:00',
        |                      TIMESTAMP '1997-02-10 00:00:00',
        |                      TIMESTAMP '1999-05-05 00:00:00')
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
        |  AND o_orderstatus IN ('F', 'P')
        |GROUP BY o_orderstatus, CAST(o_orderdate AS DATE)""".stripMargin) { (s, dir) =>
      val tbl = "q121_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      // fixture (two-epoch levels table + registration) cached per
      // (JVM, dir): the entry times the two-axis runtime-pruned star
      graft.FixtureCache.once("q121", dir) {
        val store = workDir.resolve(tbl).toString
        graft.streaming.VersionedStore.fs(s, store)
          .delete(new org.apache.hadoop.fs.Path(store), true)
        val orders = Tables.orders(s, dir).select(
          "o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice")
        // epoch 1: 1996 under status/MONTH
        PartitionedTable.commitLevels(s, store,
          orders.filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
            && col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
          Seq(
            PartitionedTable.GenLevel("o_orderstatus",
              PartitionedTable.PartGen.Prefix(1), "ps"),
            PartitionedTable.GenLevel("o_orderdate",
              PartitionedTable.PartGen.Month, "pm")))
        // evolve the date level to DAY; epoch 2: 1997-Q1 lands as days
        PartitionedTable.evolveGenLevel(s, store, "pm",
          PartitionedTable.PartGen.Day)
        PartitionedTable.mergeLevels(s, store,
          orders.filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp")
            && col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
            .withColumn("op", lit("upsert")),
          "o_orderkey")
        register(s, "lake", tbl, store,
          partCol = Some(PartitionedTable.LevelsPartName))
      }
      s.sql(
        s"""SELECT f.o_orderstatus, CAST(f.o_orderdate AS DATE) AS od,
           |       CAST(count(*) AS BIGINT) AS n_rows,
           |       round(sum(f.o_totalprice), 2) AS rev
           |FROM graft.lake.$tbl f
           |JOIN (SELECT st FROM VALUES
           |        ('F', 'keep'), ('P', 'keep'), ('O', 'skip')
           |        AS t(st, flag)
           |      WHERE flag = 'keep') sd
           |  ON f.o_orderstatus = sd.st
           |JOIN (SELECT dt FROM VALUES
           |        (TIMESTAMP '1996-03-15 00:00:00', 'keep'),
           |        (TIMESTAMP '1997-02-10 00:00:00', 'keep'),
           |        (TIMESTAMP '1999-05-05 00:00:00', 'keep'),
           |        (TIMESTAMP '1996-05-01 00:00:00', 'skip') AS t(dt, flag)
           |      WHERE flag = 'keep') cd
           |  ON f.o_orderdate = cd.dt
           |GROUP BY f.o_orderstatus, CAST(f.o_orderdate AS DATE)""".stripMargin)
    }
  )
}

/** One resolved (table, version) — schema and scans both pin `version`,
  * so a query is a consistent snapshot no matter what commits land
  * while it runs, and a row-level command's landing can verify nothing
  * it touched moved since.
  *
  * Registered partition/key columns are declared NON-NULLABLE: the
  * partition column by the commit contract (null-partition rows never
  * land), the key column by the row-identity contract a `keyCol`
  * registration asserts (Spark's row-level rewrite requires non-null
  * row IDs, and a null merge key was already undefined behavior on the
  * library path). A bonus on the write side: SQL INSERTs get engine-
  * enforced null checks on both columns for free. */
class GraftTable(ident: String, spec: GraftTableSpec, version: Long)
    extends Table with SupportsRead with SupportsWrite
    with SupportsRowLevelOperations with SupportsPartitionManagement
    with TruncatableTable {
  /** The resolution seam [[GraftStreamTableRead]] (readStream.table)
    * binds through. */
  private[graft] def tableSpec: GraftTableSpec = spec
  private[graft] def tableVersion: Long = version
  private lazy val tableSchema: StructType = {
    val spark = SparkSession.active
    // a rule-DERIVED partition column stays nullable: NULL means
    // "derive" on writes (the generated-column contract), so marking
    // it non-null would reject the column-list INSERT form upstream
    val levels = PartitionedTable.generatedLevelsOf(spark, spec.dir)
    val derived = levels.map(PartitionedTable.derivedColsOf)
      .getOrElse(Set.empty)
    // the rule's SOURCE column is non-null instead: committed rows
    // never carry one (null-source rows have a null partition, refused
    // at the landing), and it doubles as the row-identity column for
    // the row-level commands on generated tables
    val genSrc = levels.toSeq.flatten.map(_.srcCol).toSet
    // column DEFAULTs (and any other declared field metadata) live on
    // the CREATE schema; the footer-merged data schema strips metadata,
    // so re-overlay it by name — an INSERT omitting a DEFAULT column
    // must keep working after the first write materializes data
    val declaredMeta: Map[String, org.apache.spark.sql.types.Metadata] =
      PartitionedTable.declaredSchemaOf(spark, spec.dir)
        .map(_._1.fields.collect {
          case f if f.metadata != org.apache.spark.sql.types.Metadata.empty =>
            f.name -> f.metadata
        }.toMap).getOrElse(Map.empty) ++
        // ALTER-time ADD COLUMN ... DEFAULT: surface the sidecar default
        // as the standard column metadata so the analyzer resolves
        // INSERTs omitting the column (the CREATE-time machinery's key)
        PartitionedTable.addedColumnsWithDefaultsResolved(spark, spec.dir)
          .collect { case (n, _, Some(d)) =>
            n -> new org.apache.spark.sql.types.MetadataBuilder()
              .putString(org.apache.spark.sql.catalyst.util
                .ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY, d)
              .putString(org.apache.spark.sql.catalyst.util
                .ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY, d)
              .build()
          }.toMap
    StructType(
      (if (version < 0) PartitionedTable.emptyDeclared(spark, spec.dir)
       else PartitionedTable.read(spark, spec.dir, Some(version)))
        .schema.fields.map { f0 =>
          val f = declaredMeta.get(f0.name) match {
            case Some(m) if f0.metadata ==
                org.apache.spark.sql.types.Metadata.empty =>
              f0.copy(metadata = m)
            case _ => f0
          }
          if ((spec.partCol.contains(f.name) && !derived.contains(f.name)) ||
              spec.keyCol.contains(f.name) || genSrc.contains(f.name))
            f.copy(nullable = false)
          else f
        })
  }
  override def name(): String = ident
  override def schema(): StructType = tableSchema
  // BATCH_WRITE + V1_BATCH_WRITE together: the analyzer's capability
  // check wants BATCH_WRITE for dynamic overwrite, while the physical
  // strategy dispatches per WRITE INSTANCE — the V1Write legs (INSERT /
  // overwrite-by-filter) keep their V1 execs, and only the dynamic
  // overwrite's real BatchWrite takes the V2 exec.
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.TRUNCATE, TableCapability.STREAMING_WRITE,
      // `MERGE WITH SCHEMA EVOLUTION`: the analyzer's
      // ResolveMergeIntoSchemaEvolution gates on this capability, then
      // routes the source's missing columns through alterTable
      // (AddColumn) — i.e. the same metadata-only _addcols sidecar the
      // library's allowSchemaEvolution merge uses — before rewriting
      // the merge against the widened schema. WITHOUT the clause the
      // strict contract stands: unknown source columns fail analysis.
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
  /** The table's layout contract as DSv2 transforms — hidden
    * partitioning renders as its TRANSFORMS (years/months/days/
    * truncate over the SOURCE column), not as the derived column, so
    * `SHOW CREATE TABLE` output re-executes into an equivalently-
    * contracted table and DESCRIBE shows the rule a user declared. */
  override def partitioning(): Array[Transform] = {
    val spark = SparkSession.active
    def transformOf(src: String, gen: PartitionedTable.PartGen): Transform =
      gen match {
        case PartitionedTable.PartGen.Year => Expressions.years(src)
        case PartitionedTable.PartGen.Month => Expressions.months(src)
        case PartitionedTable.PartGen.Day => Expressions.days(src)
        case PartitionedTable.PartGen.Prefix(n) => Expressions.apply(
          "truncate", Expressions.column(src), Expressions.literal(n))
      }
    PartitionedTable.generatedLevelsOf(spark, spec.dir) match {
      case Some(levels) =>
        levels.map(l => transformOf(l.srcCol, l.gen)).toArray
      case None => spec.partCol.map(c => Expressions.identity(c)).toArray
    }
  }

  /** Persistent CHECK constraints, surfaced on the DSv2 contract so
    * DESCRIBE EXTENDED and SHOW CREATE TABLE render them. */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    PartitionedTable.constraintsOf(SparkSession.active, spec.dir)
      .map { case (n, sql) =>
        org.apache.spark.sql.connector.catalog.constraints.Constraint
          .check(n).predicateSql(sql).build()
          : org.apache.spark.sql.connector.catalog.constraints.Constraint
      }.toArray
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(spec, version, tableSchema)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(spec, info)
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        new GraftRowLevelOperation(spec, version, info.command, tableSchema)
    }

  // ---- SupportsPartitionManagement: SHOW PARTITIONS + ALTER TABLE
  // DROP PARTITION over the manifest. Partition VALUES are strings by
  // the commit contract (identity part cols are required string;
  // generated tables render their level or combination strings), so the
  // partition schema is the one string column and identifiers are its
  // values verbatim. A DROP is the library's metadata-only
  // dropPartitions commit — no file is touched, time travel keeps the
  // rows until vacuum.
  private def partCol: String = spec.partCol.getOrElse(
    throw new UnsupportedOperationException(
      s"graft catalog: $ident has no declared partition column — " +
        "partition management needs a registration with partCol"))

  override def partitionSchema(): StructType =
    StructType(Seq(org.apache.spark.sql.types.StructField(
      partCol, org.apache.spark.sql.types.StringType, nullable = false)))

  private def liveValues: Seq[String] =
    if (version < 0) Nil
    else PartitionedTable.partitionValues(
      SparkSession.active, spec.dir, Some(version))

  override def listPartitionIdentifiers(
      names: Array[String],
      ident0: org.apache.spark.sql.catalyst.InternalRow)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val pc = partCol
    require(names.forall(_ == pc),
      s"graft catalog: unknown partition column(s) " +
        s"${names.filterNot(_ == pc).mkString(",")} — $ident partitions by $pc")
    val want = if (names.isEmpty) None
      else Option(ident0.getUTF8String(0)).map(_.toString)
    liveValues.filter(v => want.forall(_ == v)).map(v =>
      org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(v))).toArray
  }

  override def createPartition(
      ident0: org.apache.spark.sql.catalyst.InternalRow,
      properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      s"graft catalog: partitions of $ident materialize on first write — " +
        "INSERT the partition's rows instead of ADD PARTITION")

  override def dropPartition(
      ident0: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
    val value = ident0.getUTF8String(0).toString
    val spark = SparkSession.active
    // the drop always lands on LATEST (an alter never targets a
    // time-travel handle); ifExists absorbs a concurrent drop race
    if (PartitionedTable.latest(spark, spec.dir).isEmpty) return false
    val live = PartitionedTable.partitionValues(spark, spec.dir).toSet
    if (!live.contains(value)) false
    else {
      PartitionedTable.dropPartitions(spark, spec.dir, Seq(value),
        at = "sql", ifExists = true)
      true
    }
  }

  override def replacePartitionMetadata(
      ident0: org.apache.spark.sql.catalyst.InternalRow,
      properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft catalog: per-partition properties are not modeled")

  override def loadPartitionMetadata(
      ident0: org.apache.spark.sql.catalyst.InternalRow)
      : util.Map[String, String] = util.Collections.emptyMap()

  /** SQL `TRUNCATE TABLE`: one metadata-only commit to an empty table
    * version; rows stay time-travel-readable until vacuum. */
  override def truncateTable(): Boolean = {
    if (version >= 0)
      PartitionedTable.truncate(SparkSession.active, spec.dir, at = "sql")
    true // a created-but-never-written table is already empty
  }

  /** SHOW TBLPROPERTIES / DESCRIBE EXTENDED: persisted `_props`
    * snapshots plus the registration contract — which WINS over any
    * same-named persisted key (the registration is authoritative) —
    * plus `location`, so SHOW CREATE TABLE renders the LOCATION clause
    * and its output re-executes against a real directory. */
  override def properties(): util.Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val contract = spec.partCol.map("partcol" -> _).toMap ++
      spec.keyCol.map("keycol" -> _).toMap +
      ("location" -> spec.dir)
    val persisted = PartitionedTable.propertiesOf(SparkSession.active, spec.dir)
    // derived, never persisted: how many commits this table has
    // absorbed since its last ANALYZE — DESCRIBE EXTENDED surfaces the
    // staleness the scan-side maxStaleCommits gate acts on
    val staleness = persisted.get("stats.version").flatMap(_.toLongOption)
      .filter(_ => version >= 0)
      .map(av => "stats.stale_commits" -> math.max(0L, version - av).toString)
      .toMap
    (persisted ++ staleness ++ contract).asJava
  }
}

/** A runtime (join-driven) partition-pruning obligation attached to a
  * [[GraftScan]] by [[graft.plans.GraftRuntimePrune]]: at EXECUTION
  * planning — after the optimizer proved `keyExpr` (a dim-side
  * expression equi-joined to the fact's partition column) bounds the
  * fact rows that can survive the join — the scan resolves the dim
  * side's DISTINCT key values driver-side (dimension-key-count-sized,
  * the side the planner broadcasts anyway) and keeps only matching
  * manifest partitions. The manifest-level analogue of Spark's dynamic
  * partition pruning, for the V1-bridged scan `BatchScanExec`'s
  * `SupportsRuntimeV2Filtering` machinery cannot reach. */
case class GraftRuntimePruneSpec(
    dimPlan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
    keyExpr: org.apache.spark.sql.catalyst.expressions.Expression,
    /** Some(col) = the join key is a generation rule's SOURCE column
      * `col` (ANY level of a generated table's level spec):
      * the resolved dim values map through each live partition's own
      * epoch rule at that column's level(s) — the calendar-dim star
      * shape — instead of matching partition values verbatim. */
    srcCol: Option[String] = None) {
  def sourceKey: Boolean = srcCol.isDefined
}

class GraftScanBuilder(spec: GraftTableSpec, version: Long, full: StructType)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  private var accepted: Array[Filter] = Array.empty

  /** Everything comes back RESIDUAL (Spark re-applies each filter above
    * the scan, so pruning can never change results); `accepted` is what
    * the scan will USE — partition values for manifest pruning, closed
    * ranges/equalities for sidecar skipping, the rest as inner Catalyst
    * filters that reach parquet. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    accepted = filters.filter(f => GraftScan.toColumn(f).isDefined)
    filters
  }
  override def pushedFilters(): Array[Filter] = accepted
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan =
    GraftScan(spec, version, required, accepted.toSeq)
}

case class GraftScan(
    spec: GraftTableSpec, version: Long, required: StructType,
    filters: Seq[Filter],
    runtimePrune: Seq[GraftRuntimePruneSpec] = Nil)
    extends V1Scan with SupportsReportStatistics {

  /** Dim-side join-key values PER obligation, resolved ONCE at
    * execution planning (the first `buildScan`) and pinned for the
    * scan's lifetime: the distinct `keyExpr` values of each
    * optimizer-captured dim plan, rendered to partition-value
    * strings, positionally aligned with [[runtimePrune]]. None = that
    * obligation doesn't prune (over-cap cardinality, or any resolution
    * failure) — pruning is best-effort by construction; the join above
    * re-evaluates the exact condition either way, and the dim values
    * only ever REMOVE partitions that cannot match an equi-join.
    * Multiple obligations (a two-dim star: status dim on one level,
    * calendar dim on the other) INTERSECT at the manifest — each is
    * individually sound, so their conjunction is. */
  lazy val resolvedRuntimeValuesAll: Seq[Option[Seq[String]]] =
    runtimePrune.map { rp =>
      try {
        val spark = SparkSession.active
        val cap = spark.conf
          .getOption("spark.graft.runtimePruning.maxKeys")
          .map(_.toInt).getOrElse(100000)
        import org.apache.spark.sql.catalyst.expressions.{Alias, Cast}
        import org.apache.spark.sql.catalyst.plans.logical.Project
        val key = Alias(Cast(rp.keyExpr,
          org.apache.spark.sql.types.StringType), "__graft_prune_key")()
        val vals = org.apache.spark.sql.graft.Bridge
          .ofRows(spark, Project(Seq(key), rp.dimPlan))
          .distinct().limit(cap + 1)
          .collect().flatMap(r => Option(r.getString(0)))
        if (vals.length > cap) None // too many keys to enumerate: skip
        else Some(vals.toSeq.sorted)
      } catch { case scala.util.control.NonFatal(_) => None }
    }

  /** Head obligation's resolved values — the single-obligation
    * convenience the specs assert on. */
  def resolvedRuntimeValues: Option[Seq[String]] =
    resolvedRuntimeValuesAll.headOption.flatten

  /** Manifest-level partition pruning, decided at PLAN time: the
    * intersection of every pushed equality/IN constraint on the
    * partition column. None = unconstrained. */
  val prunedPartitions: Option[Seq[String]] = spec.partCol.flatMap { pc =>
    val sets = filters.flatMap {
      case EqualTo(`pc`, v) if v != null => Some(Set(v.toString))
      case EqualNullSafe(`pc`, v) if v != null => Some(Set(v.toString))
      case In(`pc`, vs) => Some(vs.filter(_ != null).map(_.toString).toSet)
      case _ => None
    }
    sets.reduceOption(_ intersect _).map(_.toSeq.sorted)
  }

  override def readSchema(): StructType = required

  /** Manifest-derived size, computed once per scan: live-slice bytes of
    * the pinned version, restricted to the plan-time pruned partitions.
    * Feeds the SQL planner's auto-broadcast decision — a small graft
    * dimension joins as a BroadcastHashJoin with NO hint, exactly like
    * a parquet table (the V1 bridge otherwise reports
    * `defaultSizeInBytes` = never broadcast). Unknown (wide table, FS
    * hiccup) returns empty → Spark's default, i.e. the conservative
    * never-broadcast posture. NOTE: `V1ScanWrapper` does not forward
    * this interface, so the SQL path needs [[graft.plans.GraftScanStats]]
    * installed (Sessions.tune / GraftExtensions do) to see it. */
  private def statsCap(key: String): Int =
    SparkSession.active.conf.getOption(key).map(_.toInt).getOrElse(4096)

  private lazy val estimatedBytes: Option[Long] =
    try {
      if (version < 0) Some(0L)
      else PartitionedTable.estimateBytes(
        SparkSession.active, spec.dir, Some(version), prunedPartitions,
        maxSlices = statsCap("spark.graft.stats.maxSlicesBytes"))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Manifest-derived ROW count (exact: footer math, DV-aware),
    * restricted to the plan-time pruned partitions. Feeds CBO join
    * estimation directly, and — when the byte estimate is unavailable —
    * Spark derives `sizeInBytes` from rows × schema width, so a
    * rows-only estimate still unlocks auto-broadcast. */
  private lazy val estimatedRows: Option[Long] =
    try {
      if (version < 0) Some(0L)
      else PartitionedTable.estimateRows(
        SparkSession.active, spec.dir, Some(version), prunedPartitions,
        maxSlices = statsCap("spark.graft.stats.maxSlicesRows"))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Persisted per-column statistics (ANALYZE's `stats.col.*` table
    * properties, [[PartitionedTable.analyzeTable]]) for the REQUIRED
    * columns, as the V2 column-stats map `DataSourceV2Relation
    * .transformV2Stats` converts into catalyst `ColumnStat` —
    * NDV/null-count/min/max (+ opt-in equi-height HISTOGRAMS, so
    * selectivity on skewed predicates stops assuming uniformity) feed
    * CBO's join estimation and join REORDER (`spark.sql.cbo.enabled`).
    * Min/max parse back to CATALYST-internal values under UTC (date →
    * epoch days, timestamp → micros, numerics boxed); a value that
    * fails to parse serves as absent. One driver-side props read per
    * scan, estimates only — resolution failure = empty map, never an
    * error. Disable with `spark.graft.stats.colStats=false` (the CBO
    * A/B every reorder claim is tested against).
    *
    * STALENESS: stats pin to their analyzed version. When this scan's
    * version is ≥ `spark.graft.stats.maxStaleCommits` (default 64)
    * commits PAST it, the column stats are DROPPED (logged once per
    * table dir) — CBO must not reorder on NDVs from a table that has
    * since absorbed many merges; exact footer row/byte counts are
    * unaffected (always computed from this scan's own version). */
  private lazy val v2ColumnStats: java.util.Map[
    org.apache.spark.sql.connector.expressions.NamedReference,
    org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    val m = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    try {
      val spark = SparkSession.active
      if (spark.conf.getOption("spark.graft.stats.colStats")
        .forall(_.toBoolean)) {
        val props = PartitionedTable.propertiesOf(spark, spec.dir)
        val maxStale = spark.conf
          .getOption("spark.graft.stats.maxStaleCommits")
          .map(_.toLong).getOrElse(64L)
        val staleBy = props.get("stats.version").flatMap(_.toLongOption)
          .map(av => version - av).getOrElse(0L)
        if (staleBy >= maxStale)
          GraftScan.warnStaleOnce(spec.dir, staleBy, maxStale)
        else {
        def internal(s: String, dt: org.apache.spark.sql.types.DataType)
            : Option[Object] =
          try Option(org.apache.spark.sql.catalyst.expressions.Cast(
            org.apache.spark.sql.catalyst.expressions.Literal
              .create(s, org.apache.spark.sql.types.StringType),
            dt, Option("UTC")).eval(null).asInstanceOf[Object])
          catch { case scala.util.control.NonFatal(_) => None }
        required.fields.foreach { f =>
          val pre = s"stats.col.${f.name}."
          val ndv = props.get(pre + "ndv").flatMap(_.toLongOption)
          val nulls = props.get(pre + "nulls").flatMap(_.toLongOption)
          val mn = props.get(pre + "min").flatMap(internal(_, f.dataType))
          val mx = props.get(pre + "max").flatMap(internal(_, f.dataType))
          val avgL = props.get(pre + "avglen").flatMap(_.toLongOption)
          val maxL = props.get(pre + "maxlen").flatMap(_.toLongOption)
          val hist = props.get(pre + "histogram")
            .flatMap(GraftScan.parseHistogram)
          if (ndv.isDefined || nulls.isDefined || mn.isDefined ||
            mx.isDefined || avgL.isDefined || maxL.isDefined ||
            hist.isDefined) {
            def ol(o: Option[Long]) = o.map(util.OptionalLong.of)
              .getOrElse(util.OptionalLong.empty())
            def oo(o: Option[Object]) = o.map(java.util.Optional.of[Object])
              .getOrElse(java.util.Optional.empty[Object]())
            m.put(
              org.apache.spark.sql.connector.expressions.Expressions
                .column(f.name),
              new org.apache.spark.sql.connector.read.colstats
                .ColumnStatistics {
                override def distinctCount(): util.OptionalLong = ol(ndv)
                override def nullCount(): util.OptionalLong = ol(nulls)
                override def min(): java.util.Optional[Object] = oo(mn)
                override def max(): java.util.Optional[Object] = oo(mx)
                override def avgLen(): util.OptionalLong = ol(avgL)
                override def maxLen(): util.OptionalLong = ol(maxL)
                override def histogram(): java.util.Optional[
                  org.apache.spark.sql.connector.read.colstats.Histogram] =
                  hist.map(java.util.Optional.of[
                    org.apache.spark.sql.connector.read.colstats.Histogram])
                    .getOrElse(java.util.Optional.empty())
              }): Unit
          }
        }
        }
      }
    } catch { case scala.util.control.NonFatal(_) => () }
    m
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): util.OptionalLong =
      estimatedBytes
        .orElse {
          // rows-only fallback: Spark's transformV2Stats does NOT
          // derive sizeInBytes from numRows (absent bytes become
          // defaultSizeInBytes = never-broadcast), so derive it here —
          // exact row count × the read schema's estimated row width
          // (the EstimationUtils shape: 8 bytes row overhead + field
          // defaults)
          val width = 8L +
            required.fields.map(_.dataType.defaultSize.toLong).sum
          estimatedRows.map(r => math.max(1L, r) * math.max(1L, width))
        }
        .map(b => util.OptionalLong.of(math.max(1L, b)))
        .getOrElse(util.OptionalLong.empty())
    override def numRows(): util.OptionalLong =
      estimatedRows.map(util.OptionalLong.of)
        .getOrElse(util.OptionalLong.empty())
    override def columnStats(): java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
      v2ColumnStats
  }

  override def description(): String =
    s"GraftScan ${spec.dir} v=$version partitions=" +
      prunedPartitions.map(_.mkString("[", ",", "]")).getOrElse("*") +
      (if (runtimePrune.nonEmpty)
        s" runtimePruned=dim-join-keys(x${runtimePrune.size})" else "") +
      s" filters=${filters.mkString(", ")}"

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new GraftRelation(this, context).asInstanceOf[T]

  @transient private var built: DataFrame = _

  /** The frame this scan executes, built on the first physical planning
    * and reused by every later one: AQE re-plans a query once per
    * stage, and rebuilding would repeat the build's planning work (the
    * stats-sidecar pruning, manifest and footer reads) each time. The
    * version is pinned per scan, so a reused frame reads exactly what
    * a rebuilt one would. */
  private[sources] def frame(spark: SparkSession): DataFrame = synchronized {
    if (built == null) built = buildDf(spark)
    built
  }

  /** The library-built frame this scan executes — a pure builder, public
    * so a plan audit can assert which partitions/files the SQL path
    * touches. Execution goes through [[frame]]. */
  def buildDf(spark: SparkSession): DataFrame = {
    val dir = spec.dir
    if (version < 0) {
      // created-but-never-written table: empty at the declared schema
      val base = PartitionedTable.emptyDeclared(spark, dir)
      val projected = required.fields.toSeq.map { f =>
        if (base.columns.contains(f.name)) functions.col(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }
      return if (projected.isEmpty) base else base.select(projected: _*)
    }
    // closed bounds per data column: EqualTo → [v, v]; a strict bound
    // prunes with its value inclusively (sound — boundary files only
    // ever KEEP; the residual exact filter Spark re-applies fixes rows)
    val dataCols = filters.collect {
      case EqualTo(c, v) if v != null && !spec.partCol.contains(c) =>
        (c, Some(v), Some(v), true)
      case GreaterThan(c, v) if v != null => (c, Some(v), None, false)
      case GreaterThanOrEqual(c, v) if v != null => (c, Some(v), None, false)
      case LessThan(c, v) if v != null => (c, None, Some(v), false)
      case LessThanOrEqual(c, v) if v != null => (c, None, Some(v), false)
    }.groupBy(_._1).map { case (c, bs) =>
      val lo = bs.flatMap(_._2); val hi = bs.flatMap(_._3)
      // TIGHTEST bound per column, not first-seen: `c > 10 AND c > 100`
      // prunes with lo=100 (max of lowers; min of uppers). Mixed-type
      // literal pairs keep the incumbent — sound either way, the
      // residual re-filters exactly.
      (c, lo.reduceOption(GraftScan.tighter(_, _, keepMax = true)),
        hi.reduceOption(GraftScan.tighter(_, _, keepMax = false)),
        bs.exists(_._4))
    }.toSeq
    val closed = dataCols.collect {
      case (c, Some(lo), Some(hi), eq) => (c, lo, hi, eq)
    }.sortBy(_._1)
    // GENERATED tables (a level spec of N >= 1 levels) prune from
    // SOURCE-column predicates (nobody writes WHERE part_month =
    // '1996-01' — they write WHERE o_orderdate BETWEEN …): closed ranges
    // on the levels' source columns route through readWhereSrcLevels,
    // which maps each range through its level's own epoch rules at the
    // manifest, then stats-prunes files and keeps the exact residual.
    // Values render to the rules' ISO literal form; a pred whose
    // rendering breaks lexicographic order, or a binary value (no
    // string rendering casts back to it), stays out of the routed read
    // (the residual keeps every path exact).
    def render(v: Any): String = v match {
      case t: java.sql.Timestamp => t.toString
      case d: java.sql.Date => d.toString
      case i: java.time.Instant => java.sql.Timestamp.from(i).toString
      case d: java.time.LocalDate => d.toString
      case other => other.toString
    }
    val levelSrc = PartitionedTable.generatedLevelsOf(spark, dir)
      .toSeq.flatten.map(_.srcCol).toSet
    val rendered: Seq[(String, String, String)] =
      if (levelSrc.isEmpty) Nil
      else closed.collect {
        case (c, lo, hi, _) if !lo.isInstanceOf[Array[Byte]] =>
          (c, render(lo), render(hi))
      }.filter(p => p._2 <= p._3)
    val genRouted: Option[DataFrame] =
      if (!rendered.exists(p => levelSrc.contains(p._1))) None
      else Some(PartitionedTable.readWhereSrcLevels(spark, dir, rendered,
        Some(version)))
    // partition constraint: STATIC pushed equalities ∩ RUNTIME dim join
    // keys (one set per resolved pruning obligation, INTERSECTED — the
    // two-dim star prunes on every axis a dim qualified on) ∩ what
    // actually exists — SQL asking for an absent partition is an empty
    // result, never an error. A SOURCE-keyed obligation (generated
    // table joined on a rule's source column — the calendar-dim shape)
    // maps its dim values through each live partition's epoch rule at
    // that column's level(s) first; it takes precedence over the
    // range-routed generated read (the residual keeps both exact, and
    // the dim's point set prunes tighter than any range). A
    // PARTITION-keyed obligation is ignored when the generated routing
    // fired (partCol there is the derived column — nobody joins on it
    // AND ranges the source in the same query).
    val obligationSets: Seq[Option[Seq[String]]] =
      runtimePrune.zip(resolvedRuntimeValuesAll).map {
        case (rp, resolved) if rp.sourceKey =>
          resolved.flatMap { vals =>
            try Some(PartitionedTable.partitionsForSourceValuesLevels(
              spark, dir, rp.srcCol.get, vals, Some(version)))
            catch { case scala.util.control.NonFatal(_) => None }
          }
        case (_, resolved) if genRouted.isEmpty => resolved
        case _ => None
      }
    // compose with the query's own source-RANGE predicates at the
    // manifest: a status-filtered calendar star prunes combinations on
    // BOTH axes (the genRouted range mapping, intersected). Preds whose
    // rendering breaks lexicographic order drop out — sound, the
    // residual keeps them exact.
    val rangeSet: Option[Seq[String]] =
      if (obligationSets.zip(runtimePrune).exists {
        case (s, rp) => rp.sourceKey && s.isDefined
      }) {
        val rangePreds = rendered.filter(p => levelSrc.contains(p._1))
        if (rangePreds.isEmpty) None
        else try Some(PartitionedTable.partitionsForSourceRangesLevels(
          spark, dir, rangePreds, Some(version)))
        catch { case scala.util.control.NonFatal(_) => None }
      } else None
    val runtimeVals: Option[Seq[String]] =
      (obligationSets.flatten ++ rangeSet).reduceOption(_ intersect _)
    val constrained: Option[Seq[String]] =
      (prunedPartitions, runtimeVals) match {
        case (Some(a), Some(b)) => Some(a.intersect(b))
        case (a, b) => a.orElse(b)
      }
    val partVals = constrained.map { vals =>
      val live = PartitionedTable
        .partitionValues(spark, dir, Some(version)).toSet
      vals.filter(live.contains)
    }
    val base = if (genRouted.isDefined && runtimeVals.isEmpty) genRouted.get
    else (partVals, closed) match {
      case (Some(Nil), _) => // every requested partition absent
        PartitionedTable.read(spark, dir, Some(version)).filter(lit(false))
      case (pv, Seq((c, lo, hi, true))) if lo == hi =>
        // single point lookup: the bloom sidecar path (file-level skip
        // on unclustered high-cardinality columns, readWhere can't)
        PartitionedTable.readEq(spark, dir, c, lit(lo), pv, Some(version))
      case (pv, cs) if cs.nonEmpty =>
        PartitionedTable.readWhereAll(spark, dir,
          cs.map { case (c, lo, hi, _) => (c, lit(lo), lit(hi)) },
          pv, Some(version))
      case (Some(vals), _) =>
        PartitionedTable.readPartitions(spark, dir, vals, Some(version))
      case (None, _) =>
        PartitionedTable.read(spark, dir, Some(version))
    }
    // every translatable filter also lands INSIDE the frame, so the
    // parquet scan sees it as PushedFilters (row-group skipping) —
    // harmless double evaluation, Spark's residual is the exact gate
    val inner = filters.flatMap(GraftScan.toColumn)
      .reduceOption(_ && _).map(base.filter).getOrElse(base)
    // column pruning; a required column every surviving file lacks
    // (evolved column, all carriers pruned) null-fills at its type
    val projected = required.fields.toSeq.map { f =>
      if (inner.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    if (projected.isEmpty) inner else inner.select(projected: _*)
  }
}

object GraftScan {
  /** Parse a persisted equi-height histogram
    * (`"height|lo,hi,ndv;lo,hi,ndv;..."`, [[graft.operators
    * .PartitionedTable.analyzeTable]]) into the V2 colstats shape
    * `transformV2Stats` maps into catalyst's `Histogram`. Any malformed
    * value serves as absent — estimates only, never an error. */
  def parseHistogram(s: String): Option[
    org.apache.spark.sql.connector.read.colstats.Histogram] =
    try {
      val Array(h, binsStr) = s.split("\\|", 2)
      val heightV = h.toDouble
      val binArr = binsStr.split(";").map { b =>
        val Array(loS, hiS, ndvS) = b.split(",", 3)
        val (loV, hiV, ndvV) = (loS.toDouble, hiS.toDouble, ndvS.toLong)
        new org.apache.spark.sql.connector.read.colstats.HistogramBin {
          override def lo(): Double = loV
          override def hi(): Double = hiV
          override def ndv(): Long = ndvV
        }: org.apache.spark.sql.connector.read.colstats.HistogramBin
      }
      if (binArr.isEmpty) None
      else Some(new org.apache.spark.sql.connector.read.colstats.Histogram {
        override def height(): Double = heightV
        override def bins(): Array[
          org.apache.spark.sql.connector.read.colstats.HistogramBin] = binArr
      })
    } catch { case scala.util.control.NonFatal(_) => None }

  private val staleWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Log ONCE per table dir that its column stats were dropped for
    * staleness — every scan would otherwise repeat it. */
  def warnStaleOnce(dir: String, staleBy: Long, maxStale: Long): Unit =
    if (staleWarned.add(dir))
      org.slf4j.LoggerFactory.getLogger(classOf[GraftScan]).warn(
        s"graft: column stats under $dir are $staleBy commits older than " +
          s"the read version (>= spark.graft.stats.maxStaleCommits=" +
          s"$maxStale) — dropping them from CBO; re-run " +
          s"CALL graft.system.analyze (exact row counts are unaffected)")

  /** The tighter of two pushed bound literals: the larger when merging
    * lower bounds (`keepMax`), the smaller for upper bounds. Literals
    * of different runtime classes (or non-Comparable ones) keep `a` —
    * sound, because every pushed filter stays residual. */
  private[sources] def tighter(a: Any, b: Any, keepMax: Boolean): Any =
    (a, b) match {
      case (x: Comparable[_], y: Any)
          if x.getClass == y.getClass =>
        val cmp = x.asInstanceOf[Comparable[Any]].compareTo(y)
        if (keepMax == (cmp >= 0)) a else b
      case _ => a
    }

  /** Best-effort [[Filter]] → [[Column]]; None = untranslatable (the
    * residual still evaluates it exactly). */
  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(c, v) => Some(col(c) === lit(v))
    case EqualNullSafe(c, v) => Some(col(c) <=> lit(v))
    case GreaterThan(c, v) => Some(col(c) > lit(v))
    case GreaterThanOrEqual(c, v) => Some(col(c) >= lit(v))
    case LessThan(c, v) => Some(col(c) < lit(v))
    case LessThanOrEqual(c, v) => Some(col(c) <= lit(v))
    case In(c, vs) => Some(col(c).isin(vs.toIndexedSeq: _*))
    case IsNull(c) => Some(col(c).isNull)
    case IsNotNull(c) => Some(col(c).isNotNull)
    case StringStartsWith(c, v) => Some(col(c).startsWith(v))
    case StringEndsWith(c, v) => Some(col(c).endsWith(v))
    case StringContains(c, v) => Some(col(c).contains(v))
    case And(l, r) => for { a <- toColumn(l); b <- toColumn(r) } yield a && b
    case Or(l, r) => for { a <- toColumn(l); b <- toColumn(r) } yield a || b
    case Not(x) => toColumn(x).map(!_)
    case _ => None
  }
}

/** The V1 bridge: schema = the scan's pruned schema, rows = the
  * library-built frame. `buildScan` runs at every physical planning of
  * the query on the driver — AQE re-plans once per stage — and returns
  * the RDD of the scan's one frame ([[GraftScan.frame]]), so the frame's
  * metadata work runs once per scan; the RDD executes the inner
  * (pushed-down, pruned) plan on the executors. */
class GraftRelation(val scan: GraftScan, override val sqlContext: SQLContext)
    extends BaseRelation with TableScan {
  override def schema: StructType = scan.readSchema()
  override def buildScan(): RDD[Row] =
    scan.frame(sqlContext.sparkSession).rdd
}

/** A metadata table (`$history` / `$detail`): tiny ops-surface frames,
  * no pushdown machinery — the whole frame is manifest/footer-sized.
  * Schemas are STATIC (both surfaces' shapes are fixed), so resolving a
  * metadata table never runs the listing/footer pass — only `buildScan`
  * (execution) does, and exactly once per query. */
class GraftMetaTable(ident: String, dir: String, kind: String)
    extends Table with SupportsRead {
  private def frame(spark: SparkSession): DataFrame = kind match {
    case "history" => PartitionedTable.history(spark, dir)
    case "detail" => PartitionedTable.describeDetail(spark, dir)
    case other => throw new IllegalArgumentException(
      s"graft catalog: unknown metadata table kind '$other'")
  }
  private val tableSchema: StructType = GraftMetaTable.schemaOf(kind)
  override def name(): String = ident
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = tableSchema
        override def description(): String = s"GraftMetaScan $dir $$$kind"
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new BaseRelation with TableScan {
            override val sqlContext: SQLContext = context
            override def schema: StructType = tableSchema
            override def buildScan(): RDD[Row] = {
              val df = frame(context.sparkSession)
              // the declared static schema is a contract — drift in the
              // library frame must fail loud here, not as a cast error
              // rows later
              require(df.schema == tableSchema,
                s"graft catalog: $$$kind frame schema ${df.schema.simpleString} " +
                  s"drifted from the declared ${tableSchema.simpleString}")
              df.rdd
            }
          }.asInstanceOf[T]
      }
    }
}

/** The change data feed as a metadata table — the third leg of the
  * `t$history`/`t$detail` convention:
  *
  * {{{
  *   SELECT * FROM graft.db.`t$changes`
  *     WHERE _commit_version BETWEEN a AND b
  * }}}
  *
  * delegates to [[graft.streaming.ChangeFeed.batch]], so slice
  * computation (per-commit diffs of ONLY touched partitions) and the
  * vacuum-horizon guard are the feed's own. Pushed `_commit_version`
  * bounds decide the feed's (from, to] range at PLAN time — a window
  * query never diffs commits outside it; every pushed filter stays
  * residual, so the result is exact regardless. Without a lower bound
  * the feed starts at the OLDEST RETAINED version (exactly the
  * reconstructable slices); an explicit lower bound below the horizon
  * fails loud through the feed's own guard. */
class GraftChangesTable(ident: String, dir: String, key: String, part: String)
    extends Table with SupportsRead {
  import graft.streaming.ChangeFeed

  // feed schema = (part, key, op, payload..., _commit_version) — footer
  // reads only (the graft-cdf sourceSchema pattern), payload-dependent
  // so it cannot be static like $history/$detail
  private lazy val tableSchema: StructType = {
    val spark = SparkSession.active
    val latest = PartitionedTable.latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog: no committed versions under $dir"))
    ChangeFeed.batch(spark, dir, key, part,
      fromVersion = latest, toVersion = Some(latest)).schema
  }
  override def name(): String = ident
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters {
      private var accepted: Array[Filter] = Array.empty
      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        accepted = filters.filter {
          case EqualTo(c, _) => c == ChangeFeed.VersionCol
          case GreaterThan(c, _) => c == ChangeFeed.VersionCol
          case GreaterThanOrEqual(c, _) => c == ChangeFeed.VersionCol
          case LessThan(c, _) => c == ChangeFeed.VersionCol
          case LessThanOrEqual(c, _) => c == ChangeFeed.VersionCol
          case _ => false
        }
        filters // all residual
      }
      override def pushedFilters(): Array[Filter] = accepted
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = tableSchema
        override def description(): String =
          s"GraftChangesScan $dir bounds=${accepted.mkString(", ")}"
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T = {
          val bounds = accepted
          new BaseRelation with TableScan {
            override val sqlContext: SQLContext = context
            override def schema: StructType = tableSchema
            override def buildScan(): RDD[Row] = {
              val spark = context.sparkSession
              def asLong(v: Any): Long = v.asInstanceOf[Number].longValue
              // (from, to]: >= a maps to from = a-1; EqualTo pins both
              val lows = bounds.collect {
                case GreaterThan(_, v) => asLong(v)
                case GreaterThanOrEqual(_, v) => asLong(v) - 1
                case EqualTo(_, v) => asLong(v) - 1
              }
              val highs = bounds.collect {
                case LessThan(_, v) => asLong(v) - 1
                case LessThanOrEqual(_, v) => asLong(v)
                case EqualTo(_, v) => asLong(v)
              }
              val retained = PartitionedTable.versions(spark, dir)
              require(retained.nonEmpty,
                s"graft catalog: no committed versions under $dir")
              val from = lows.maxOption.getOrElse(retained.min)
              val to = highs.minOption.getOrElse(retained.max)
              val feed = ChangeFeed.batch(spark, dir, key, part,
                fromVersion = from, toVersion = Some(to))
              // residual _commit_version filters also land inside (the
              // GraftScan convention — harmless double evaluation)
              bounds.flatMap(GraftScan.toColumn)
                .reduceOption(_ && _).map(feed.filter).getOrElse(feed).rdd
            }
          }.asInstanceOf[T]
        }
      }
    }
}

object GraftMetaTable {
  import org.apache.spark.sql.types._
  /** [[PartitionedTable.history]]'s fixed shape. */
  val HistorySchema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("operation", StringType),
    StructField("touched", LongType),
    StructField("partitions", LongType),
    StructField("at", StringType),
    StructField("commit_ts", LongType)))
  /** [[PartitionedTable.describeDetail]]'s fixed shape. */
  val DetailSchema: StructType = StructType(Seq(
    StructField("partition", StringType),
    StructField("store_version", LongType, nullable = false),
    StructField("resolves", StringType),
    StructField("n_files", LongType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("is_dv", BooleanType, nullable = false),
    StructField("has_stats", BooleanType, nullable = false),
    StructField("has_bloom", BooleanType, nullable = false)))
  def schemaOf(kind: String): StructType = kind match {
    case "history" => HistorySchema
    case "detail" => DetailSchema
    case other => throw new IllegalArgumentException(
      s"graft catalog: unknown metadata table kind '$other'")
  }
}
