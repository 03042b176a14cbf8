package graft.sources

import graft.lake.LakeTable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsDelete, SupportsMetadataColumns, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.{ByteType, DataType, DateType, IntegerType, LongType, ShortType, StructField, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}

import java.util
import scala.jdk.CollectionConverters._

/** DataSource V2 `TableProvider` for the lake format —
  * `format("graft-lake-v2")` / `CREATE TABLE ... USING graft-lake-v2` —
  * the connector API the reference's Hudi dependency exposes on modern
  * Spark (the reference itself stays on the v1 option surface,
  * package.scala:71-73; this provider brings the same tables to the v2
  * catalog plumbing: `DataSourceV2Relation` plans, capability checks,
  * `AppendData`/`OverwriteByExpression` logical writes).
  *
  * Deliberately a THIN surface: scans and writes go through Spark's
  * official v1-fallback shims ([[V1Scan]] / [[V1Write]]), so both API
  * generations share ONE proven read/write path ([[LakeTable]] via
  * [[LakeDataSource]]'s helpers) — no second implementation to drift.
  * Streaming stays on the v1 short name (`graft-lake`), which carries the
  * timeline source and the batch-watermarked sink.
  *
  * Schema handling: `supportsExternalMetadata` means `save()` hands the
  * INPUT frame's schema to [[LakeDataSourceV2.getTable]] (validation is
  * trivially satisfied; the lake layer reconciles adds/widening itself),
  * while SQL `INSERT INTO` resolves against the catalog-declared schema,
  * so Spark reorders and casts `VALUES` tuples to the DDL columns before
  * the write — exactly the v1 `InsertableRelation` contract.
  */
class LakeDataSourceV2 extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-lake-v2"

  /** Accept DDL-declared schemas (CREATE TABLE cols) without re-inference. */
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val params = options.asCaseSensitiveMap().asScala.toMap
    LakeDataSource.queryDf(SparkSession.active, params).schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new LakeV2Table(schema, properties.asScala.toMap)
}

/** Read-only METADATA table (`<table>.history` / `<table>.changes`,
  * Iceberg-style): scans route through the ordinary option surface
  * (`query.type=history|changes`); no write capability at all, so
  * `INSERT INTO t.changes` fails at analysis instead of misrouting into
  * the data path.
  */
class LakeMetaTable(tableSchema: StructType, params: Map[String, String],
    metaName: String) extends Table with SupportsRead {
  override def name(): String =
    s"${params.getOrElse("path", "graft-lake")}.$metaName"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  /** Scan options may SLICE the view (`begin`/`end` commit range on the
    * changes feed: `spark.read.option("begin", i).table("cat.ns.t.changes")`)
    * but never change what view this is.
    */
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    val sliced = params ++ options.asCaseSensitiveMap().asScala
      .filter { case (k, _) => k == "begin" || k == "end" || k == "as.of" }
    new LakeV2ScanBuilder(tableSchema, sliced)
  }
}

/** One lake table through v2 eyes. `schema` is the inferred (full, meta
  * columns included) or DDL-declared (user columns only) shape; `params`
  * carries the option surface (`path`, `recordkey.field`, ...).
  */
class LakeV2Table(tableSchema: StructType, params: Map[String, String])
    extends Table with SupportsRead with SupportsWrite
    with SupportsMetadataColumns with SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  override def name(): String = params.getOrElse("path", "graft-lake-v2")

  override def schema(): StructType = tableSchema

  /** The lake partition fields as identity transforms — Spark validates
    * `INSERT OVERWRITE ... PARTITION (col = v)` clauses against this.
    */
  override def partitioning(): Array[Transform] =
    try {
      val spark = SparkSession.active
      val p = LakeDataSource.path(params)
      if (!LakeTable.exists(spark, p)) Array.empty
      else LakeTable.load(spark, p).meta.partitionFields
        .map(org.apache.spark.sql.connector.expressions.Expressions.identity)
        .toArray
    } catch { case _: Exception => Array.empty }

  /** The lake meta columns as REAL v2 metadata columns: hidden from
    * `SELECT *` on DDL-declared tables, explicitly selectable as
    * `_record_key` / `_commit_time` (the reference reads the same pair as
    * ordinary Hudi output columns, package.scala:166-168). Tables whose
    * schema already carries them (DataFrame-born, full-shape) expose
    * nothing extra.
    */
  override def metadataColumns(): Array[MetadataColumn] =
    Array(graft.lake.LakeTable.RecordKeyCol, graft.lake.LakeTable.CommitTimeCol)
      .filterNot(tableSchema.fieldNames.contains)
      .map { n =>
        new MetadataColumn {
          override def name(): String = n
          override def dataType(): org.apache.spark.sql.types.DataType =
            org.apache.spark.sql.types.StringType
          // physically never null — and `_record_key` doubles as the
          // row-level operations' rowId, which Spark requires non-nullable
          override def isNullable(): Boolean = false
          override def comment(): String = "graft-lake commit metadata"
        }
      }

  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_READ,
    // BATCH_WRITE satisfies the writer's capability check; the Write we
    // build is a V1Write, so physical planning takes the official v1
    // fallback exec (V1_BATCH_WRITE declares that contract)
    TableCapability.BATCH_WRITE,
    TableCapability.V1_BATCH_WRITE,
    TableCapability.TRUNCATE,
    TableCapability.OVERWRITE_BY_FILTER,
    TableCapability.OVERWRITE_DYNAMIC,
    // MERGE WITH SCHEMA EVOLUTION: Spark routes the source's new
    // columns through alterTable(AddColumn) → the metadata-only add
    TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  /** SQL `DELETE FROM ... WHERE ...`: resolve the matching rows against
    * the current snapshot, then issue the keyed delete commit — the
    * filter→keys resolution is the same distributed plan a read takes, so
    * a predicate touching one partition prunes to that partition's files.
    * Only fully-translatable predicates are accepted ([[canDeleteWhere]]);
    * Spark fails the statement otherwise instead of deleting too much or
    * too little. An empty predicate list (DELETE without WHERE / TRUNCATE)
    * deletes every current row.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(LakeV2Scan.translate(_).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val spark = SparkSession.active
    val victims = filters.flatMap(LakeV2Scan.translate)
      .foldLeft(LakeDataSource.queryDf(spark, params))(_.filter(_))
    graft.lake.LakeTable.load(spark, LakeDataSource.path(params))
      .delete(victims)
    ()
  }

  /** Per-scan read options merge over the table's own (so
    * `spark.read.option("as.of", i).table("cat.ns.t")` time-travels and
    * `option("query.type", "incremental").option("begin", i)` reads a
    * commit range on a CATALOG table). The schema-changing types are
    * rejected here — they live as metadata tables instead.
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val scanOpts = options.asCaseSensitiveMap().asScala
    // a path-based read may have BUILT this table around a feed type (its
    // schema already matches); only a scan-level OVERRIDE is rejected
    scanOpts.get("query.type")
      .filter(t => (t == "changes" || t == "history" || t == "partitions" ||
        t == "files") && !params.get("query.type").contains(t))
      .foreach { t =>
        throw new IllegalArgumentException(
          s"query.type $t has a different schema and is not a scan " +
            s"option on a catalog table; query the metadata table " +
            s"<table>.$t instead")
      }
    new LakeV2ScanBuilder(tableSchema, params ++ scanOpts)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new LakeV2WriteBuilder(
      params ++ info.options().asCaseSensitiveMap().asScala, info)

  /** SQL MERGE INTO / UPDATE / non-metadata DELETE — see [[LakeRowLevelOperation]]. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    new LakeRowLevelBuilder(params, info)
}

/** Column-prune + filter pushdown land on the same delegated DataFrame
  * scan the v1 relation uses. Filters are reported back as residual
  * (Spark re-evaluates them above the scan), so an untranslatable
  * predicate can never cost correctness — identical contract to
  * [[LakeRelation.buildScan]] — with ONE carve-out: predicates over
  * partition columns that [[PartitionPrune.supported]] certifies exact
  * are claimed as FULLY pushed. The delegated scan applies them
  * (partition pruning on the parquet read), Catalyst drops its own
  * re-evaluation, and — because no residual Filter node remains — the
  * metadata-aggregate path stays reachable under a partition-only
  * predicate.
  */
class LakeV2ScanBuilder(full: StructType, params: Map[String, String])
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {

  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty
  // the subset of `pushed` claimed as fully handled (partition-exact)
  private var claimed: Set[Filter] = Set.empty

  /** The partition schema IN DECLARED ORDER (dir segments are
    * positional — the same order [[graft.lake.LakeFileIndex]] decodes).
    * Empty when the table does not exist yet (DDL before first write),
    * is unpartitioned, or a partition field is missing from the read
    * schema — then every filter stays residual, as before. Any other
    * failure (an unreadable table descriptor, a missing path) fails the
    * planning: a broken table must not silently lose partition pruning.
    */
  private lazy val partSchema: StructType = {
    val spark = SparkSession.active
    val p = LakeDataSource.path(params)
    if (!LakeTable.exists(spark, p)) StructType(Nil)
    else {
      val names = LakeTable.load(spark, p).meta.partitionFields
      val resolved = names.flatMap(n => full.fields.find(_.name == n))
      if (resolved.length != names.length) StructType(Nil)
      else StructType(resolved)
    }
  }

  private lazy val partFields: Map[String, DataType] =
    partSchema.fields.map(f => f.name -> f.dataType).toMap
  private var aggAnswer: Option[(StructType, Seq[Seq[Any]])] = None
  // the Aggregation instance the cached answer was computed for: Spark
  // calls supportCompletePushDown/pushAggregation several times during
  // one planning pass — computing ONCE per instance keeps the plan
  // consistent even if a concurrent commit lands mid-planning (all
  // calls see the same timeline snapshot), and does one metadata read
  // instead of three
  private var aggSeen: AnyRef = null

  override def pruneColumns(requiredSchema: StructType): Unit =
    // v2 hands us the pruned shape; empty projection (e.g. COUNT(*))
    // keeps one column so the row RDD stays well-formed
    required = if (requiredSchema.isEmpty) StructType(full.take(1))
    else requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    // operational kill switch: claiming OFF reverts to the pre-round-10
    // contract (every filter residual, metadata aggregates only on
    // filterless scans) without a rebuild — the valve an operator wants
    // if a claimed predicate is ever suspected of dropping rows
    // lenient parse: anything other than (case-insensitive) "true"
    // DISABLES claiming — a kill switch must never crash planning on an
    // operator's spelling of "off"
    val claimOn = SparkSession.active.conf
      .getOption("spark.graft.lake.claimPartitionFilters")
      .forall(_.trim.equalsIgnoreCase("true"))
    claimed =
      if (!claimOn) Set.empty
      else filters.filter(f =>
        f.references.nonEmpty &&
          f.references.forall(partFields.contains) &&
          LakeV2Scan.translate(f).isDefined &&
          PartitionPrune.supported(f, partFields)).toSet
    // residual: Spark re-evaluates everything not partition-exact above
    // the scan, so an untranslatable predicate never costs correctness
    filters.filterNot(claimed)
  }

  override def pushedFilters(): Array[Filter] = pushed

  // ---- metadata-only aggregate answers (Delta/Hudi "metadata query")
  //
  // A global COUNT(*) / MIN(col) / MAX(col) over the default snapshot is
  // answerable from COMMIT METADATA alone: row counts are exact per
  // FileStat, and zone maps for integral/date/timestamp columns come
  // from parquet footer stats that are EXACT for those physical types
  // (binary stats may be truncated, float/double have NaN/-0.0 edge
  // semantics — both declined). Catalyst only attempts aggregate
  // pushdown when every filter was fully pushed; this source claims
  // only PartitionPrune-certified partition predicates, so the
  // aggregate path engages on filterless scans and on partition-only
  // predicates (the answer then aggregates exactly the files whose
  // partition values satisfy the claimed filters — the metadata replay
  // of partition pruning). GROUP BY over partition columns is answered
  // the same way — one row per distinct partition value among the
  // matching files (the Delta/Iceberg "partitions metadata table"
  // shape, served through plain SQL). Everything outside the provable
  // case — residual filters, non-partition grouping, other functions,
  // MOR deltas, tombstones, time travel, sliced query types, missing
  // zones, unparseable partition dirs — declines and runs the normal
  // scan+aggregate.
  private def metaAggAnswer(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Seq[Any]])] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    type V2Expr = org.apache.spark.sql.connector.expressions.Expression
    type FieldRef = org.apache.spark.sql.connector.expressions.NamedReference
    if (!pushed.forall(claimed) || agg.aggregateExpressions.isEmpty)
      return None
    if (params.getOrElse("query.type", "snapshot") != "snapshot" ||
        params.contains("as.of")) return None
    // GROUP BY is answerable when every grouping expression is a bare
    // partition column whose type the partition parser covers — the
    // groups are then exactly the distinct partition values among the
    // (filtered) live files, each file contributing its dir's value
    val groupFields: Seq[StructField] = agg.groupByExpressions.toSeq.map {
      case fr: FieldRef if fr.fieldNames.length == 1 &&
          partFields.contains(fr.fieldNames.head) =>
        full.fields.find(_.name == fr.fieldNames.head).getOrElse(return None)
      case _ => return None
    }
    val spark = SparkSession.active
    val p = LakeDataSource.path(params)
    if (!LakeTable.exists(spark, p)) return None
    val all =
      try LakeTable.load(spark, p).timeline.liveFiles()
      catch { case _: Exception => return None }
    // the delta/tombstone guard stays GLOBAL even under partition
    // filters: the global index lets an upsert move a key across
    // partitions, so a tombstone staged under one partition dir can
    // kill a row read from another — only a pure-base snapshot makes
    // per-file partition reasoning sound
    if (all.exists(f => f.isDelta || f.tombstones > 0)) return None
    // metadata replay of partition pruning + grouping: parse every
    // file's partition values once; any unparseable dir or evaluator
    // surprise declines the whole answer
    val needParse = claimed.nonEmpty || groupFields.nonEmpty
    val live: Seq[(graft.lake.FileStat, Map[String, Option[Any]])] =
      if (!needParse) all.map(f => f -> Map.empty[String, Option[Any]])
      else try {
        val parsed = all.map(f => f -> PartitionPrune.parse(f.partition, partSchema))
        if (parsed.exists(_._2.isEmpty)) return None
        parsed.map { case (f, r) => (f, r.get) }.filter { case (_, row) =>
          claimed.forall(PartitionPrune.eval(_, row, partFields).contains(true))
        }
      } catch { case _: Exception => return None }

    def exactZoneType(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType => true
      case _ => false
    }
    def fieldOf(e: V2Expr): Option[StructField] = e match {
      case fr: FieldRef if fr.fieldNames.length == 1 =>
        full.fields.find(_.name == fr.fieldNames.head)
      case _ => None
    }

    def external(dt: DataType, v: Long): Any = {
      import org.apache.spark.sql.catalyst.util.DateTimeUtils
      dt match {
        case ByteType         => v.toByte
        case ShortType        => v.toShort
        case IntegerType      => v.toInt
        case LongType         => v
        case DateType         => DateTimeUtils.daysToLocalDate(v.toInt)
        case TimestampType    => DateTimeUtils.microsToInstant(v)
        case TimestampNTZType => DateTimeUtils.microsToLocalDateTime(v)
        case other => throw new IllegalStateException(s"unreachable: $other")
      }
    }
    // parsed (normalized) partition value → external row value
    def externalPart(dt: DataType, v: Option[Any]): Any = v match {
      case None => null // the hive default (null) partition IS a group
      case Some(l: Long) => external(dt, l)
      case Some(u: org.apache.spark.unsafe.types.UTF8String) => u.toString
      case Some(other) =>
        throw new IllegalStateException(s"unreachable: $other")
    }

    /** Aggregate values over one file set (the whole filtered snapshot,
      * or one partition group); None = not provable for this set.
      */
    def aggVals(files: Seq[graft.lake.FileStat])
        : Option[(Seq[StructField], Seq[Any])] = {
      val withRows = files.filter(_.numRecords > 0)
      // one zoneBounds pass per column, however many Min/Max reference it
      val boundsMemo =
        scala.collection.mutable.Map.empty[String, Option[(Long, Long)]]
      def boundsOf(name: String): Option[(Long, Long)] =
        boundsMemo.getOrElseUpdate(name, LakeV2Scan.zoneBounds(withRows, name))
      def minMax(c: V2Expr, which: Int, label: String)
          : Option[(StructField, Any)] =
        fieldOf(c).filter(f => exactZoneType(f.dataType)).flatMap { f =>
          val fld = StructField(s"$label(${f.name})", f.dataType, nullable = true)
          if (withRows.isEmpty) Some((fld, null)) // empty set: NULL min/max
          else boundsOf(f.name).map(b =>
            (fld, external(f.dataType, if (which == 0) b._1 else b._2): Any))
        }
      val out = agg.aggregateExpressions.toSeq.map {
        case _: CountStar =>
          Some((StructField("count(*)", LongType, nullable = false),
            files.map(_.numRecords).sum: Any))
        case m: Min => minMax(m.column, 0, "min")
        case m: Max => minMax(m.column, 1, "max")
        case _ => None
      }
      if (out.exists(_.isEmpty)) None
      else Some((out.flatten.map(_._1), out.flatten.map(_._2)))
    }

    if (groupFields.isEmpty) {
      aggVals(live.map(_._1)).map { case (fields, vals) =>
        (StructType(fields), Seq(vals))
      }
    } else {
      val groups = live
        .map { case (f, row) => (groupFields.map(g => row(g.name)), f) }
        .groupBy(_._1)
        // a dir holding only zero-record files has no rows: the real
        // aggregate emits no group for it
        .filter { case (_, fs) => fs.map(_._2.numRecords).sum > 0 }
        .toSeq
      val answered = groups.map { case (gv, fs) =>
        aggVals(fs.map(_._2)).map { case (fields, vals) =>
          (fields,
            groupFields.zip(gv).map(t => externalPart(t._1.dataType, t._2)) ++
              vals)
        }
      }
      if (answered.isEmpty) {
        // zero matching groups: an empty result still needs a schema —
        // derive agg fields from an empty file set (always succeeds for
        // the supported shapes)
        aggVals(Seq.empty).map { case (fields, _) =>
          (StructType(groupFields.map(g =>
            StructField(g.name, g.dataType, nullable = true)) ++ fields),
            Seq.empty[Seq[Any]])
        }
      } else if (answered.exists(_.isEmpty)) None
      else {
        val fields = answered.head.get._1
        Some((StructType(groupFields.map(g =>
          StructField(g.name, g.dataType, nullable = true)) ++ fields),
          answered.map(_.get._2)))
      }
    }
  }

  private def answerFor(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Seq[Any]])] = {
    if (!(agg eq aggSeen)) { aggAnswer = metaAggAnswer(agg); aggSeen = agg }
    aggAnswer
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = answerFor(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = answerFor(agg).isDefined

  override def build(): Scan = aggAnswer match {
    case Some((schema, rows)) => new LakeV2MetaAggScan(schema, rows, params)
    case None => new LakeV2Scan(required, pushed, params)
  }
}

/** Scan carrying a metadata-answered aggregate — one row globally, or
  * one row per partition group (no data files opened, no tasks over the
  * corpus — the plan shows this node instead of a parquet scan +
  * aggregate).
  */
class LakeV2MetaAggScan(aggSchema: StructType, rows: Seq[Seq[Any]],
    params: Map[String, String]) extends V1Scan {

  override def readSchema(): StructType = aggSchema

  override def description(): String =
    s"graft-lake-v2-meta-agg ${params.getOrElse("path", "")} " +
      s"[${aggSchema.fieldNames.mkString(",")}] rows=${rows.length}"

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T = {
    val rel = new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = aggSchema
      override def buildScan(): RDD[Row] =
        context.sparkSession.sparkContext
          .parallelize(rows.map(Row.fromSeq), 1)
    }
    rel.asInstanceOf[T]
  }
}

class LakeV2Scan(required: StructType, pushed: Array[Filter],
    params: Map[String, String])
    extends V1Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType = required

  /** Commit-metadata statistics: bytes + rows, plus zone-map-backed
    * per-column min/max for the exact-stat types. HONESTY NOTE on the
    * consumer side, verified against Spark 4.1 bytecode: the optimizer
    * wraps a V1Scan in `V1ScanWrapper`, which does NOT forward
    * `SupportsReportStatistics`, so the post-pushdown logical node falls
    * back to default stats on this path — plan-time broadcast decisions
    * for v2 reads are instead made by AQE from runtime sizes, and the
    * DSv1 `format("graft-lake")` route reports `sizeInBytes` natively.
    * This implementation is still the complete contract for any
    * consumer that interrogates the scan itself (spec-verified), and
    * engages automatically if a future Spark forwards the interface.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val s = LakeDataSource.statsFor(SparkSession.active, params)
      override def sizeInBytes(): java.util.OptionalLong =
        s.map(v => java.util.OptionalLong.of(v._1))
          .getOrElse(java.util.OptionalLong.empty())
      override def numRows(): java.util.OptionalLong =
        s.map(v => java.util.OptionalLong.of(v._2))
          .getOrElse(java.util.OptionalLong.empty())

      /** Zone-map-backed per-column min/max for CBO (cbo.enabled is on
        * in [[graft.util.Sessions]]): range-predicate selectivity and
        * join estimation read real bounds instead of guessing. Values
        * are supplied in Catalyst-internal numeric form for the types
        * whose parquet stats are exact (int/long/date/timestamp);
        * estimates only — results never depend on them.
        */
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
        val m = new java.util.HashMap[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        try {
          val spark = SparkSession.active
          val p = LakeDataSource.path(params)
          if (!LakeTable.exists(spark, p)) return m
          val live = LakeTable.load(spark, p).timeline.liveFiles()
          required.fields.foreach { f =>
            val box: Option[Long => Object] = f.dataType match {
              case IntegerType | DateType =>
                Some(v => java.lang.Integer.valueOf(v.toInt))
              case LongType | TimestampType | TimestampNTZType =>
                Some(v => java.lang.Long.valueOf(v))
              case _ => None
            }
            for {
              toObj <- box
              (lo, hi) <- LakeV2Scan.zoneBounds(live, f.name)
            } m.put(
              org.apache.spark.sql.connector.expressions.Expressions
                .column(f.name),
              new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                override def min(): java.util.Optional[Object] =
                  java.util.Optional.of(toObj(lo))
                override def max(): java.util.Optional[Object] =
                  java.util.Optional.of(toObj(hi))
              })
          }
        } catch { case _: Exception => () }
        m
      }
    }

  override def description(): String =
    s"graft-lake-v2 ${params.getOrElse("path", "")} " +
      s"[${required.fieldNames.mkString(",")}] pushed=${pushed.length}"

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T = {
    val rel = new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = required
      override def needConversion: Boolean = false
      override def buildScan(): RDD[Row] = {
        val spark = context.sparkSession
        val p = LakeDataSource.path(params)
        val base: DataFrame =
          if (LakeTable.exists(spark, p)) LakeDataSource.queryDf(spark, params)
          else // DDL-declared table before its first write: empty, typed
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[Row], required)
        val projected =
          base.select(required.fieldNames.toIndexedSeq.map(col): _*)
        val filtered = pushed.flatMap(LakeV2Scan.translate)
          .foldLeft(projected)(_.filter(_))
        filtered.queryExecution.toRdd.asInstanceOf[RDD[Row]]
      }
    }
    rel.asInstanceOf[T]
  }
}

object LakeV2Scan {
  import org.apache.spark.sql.sources._

  /** min/max (as raw longs of the zone encoding: ints/longs verbatim,
    * dates epoch-days, timestamps epoch-micros) over the rows-bearing
    * live files' zone maps — None unless EVERY such file carries the
    * zone (else the bound is not provable). Shared by the metadata
    * aggregate answers (strict correctness) and the CBO column
    * statistics (estimates, same provable bound).
    */
  def zoneBounds(files: Seq[graft.lake.FileStat],
      name: String): Option[(Long, Long)] = {
    // owns the rows-bearing invariant (idempotent if a caller pre-filters)
    val withRows = files.filter(_.numRecords > 0)
    if (withRows.isEmpty) return None
    val per = withRows.map(_.colRanges.get(name))
    if (per.exists(_.isEmpty)) return None
    val parsed = per.flatten.map { r =>
      try Some((r(0).toLong, r(1).toLong)) catch { case _: Exception => None }
    }
    if (parsed.exists(_.isEmpty)) None
    else Some((parsed.flatten.map(_._1).min, parsed.flatten.map(_._2).max))
  }

  /** Best-effort v1-Filter → Column translation, shared by the v1
    * relation's `buildScan` and the v2 scan; untranslated filters are
    * re-applied by Spark.
    */
  def translate(f: Filter): Option[org.apache.spark.sql.Column] = f match {
    case EqualTo(a, v)            => Some(col(a) === v)
    case EqualNullSafe(a, v)      => Some(col(a) <=> v)
    case GreaterThan(a, v)        => Some(col(a) > v)
    case GreaterThanOrEqual(a, v) => Some(col(a) >= v)
    case LessThan(a, v)           => Some(col(a) < v)
    case LessThanOrEqual(a, v)    => Some(col(a) <= v)
    case In(a, vs)                => Some(col(a).isInCollection(vs.toSeq))
    case IsNull(a)                => Some(col(a).isNull)
    case IsNotNull(a)             => Some(col(a).isNotNull)
    case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
    case And(l, r) =>
      for (lc <- translate(l); rc <- translate(r)) yield lc && rc
    case Or(l, r) =>
      for (lc <- translate(l); rc <- translate(r)) yield lc || rc
    case Not(c)        => translate(c).map(!_)
    case _: AlwaysTrue  => Some(org.apache.spark.sql.functions.lit(true))
    case _: AlwaysFalse => Some(org.apache.spark.sql.functions.lit(false))
    case _              => None
  }
}

/** v2 write → the keyed batch operations, via the official [[V1Write]]
  * fallback. `INSERT INTO` / append = the `operation` option (default
  * upsert). The overwrite family:
  *
  *  - full `INSERT OVERWRITE` / `truncate()` (arrives as
  *    `overwrite([AlwaysTrue])`) → the atomic full-replace commit;
  *  - `INSERT OVERWRITE ... PARTITION (p = v)` / `INSERT INTO ...
  *    REPLACE WHERE cond` → [[graft.lake.LakeTable.replaceWhere]]
  *    (only files containing matching rows rewrite, one commit);
  *    untranslatable predicates are REJECTED via `canOverwrite`, never
  *    silently widened;
  *  - dynamic partition overwrite (`partitionOverwriteMode=dynamic`,
  *    `writeTo.overwritePartitions()`) →
  *    [[graft.lake.LakeTable.overwritePartitions]] (replace exactly the
  *    partitions the batch touches).
  */
class LakeV2WriteBuilder(params: Map[String, String], info: LogicalWriteInfo)
    extends WriteBuilder with SupportsOverwrite
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {

  private var op: String = params.getOrElse("operation", "upsert")
  private var replaceFilters: Option[Array[Filter]] = None
  private var dynamic = false

  override def canOverwrite(filters: Array[Filter]): Boolean =
    filters.forall(LakeV2Scan.translate(_).isDefined)

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.isEmpty ||
        filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
      op = "overwrite" // full replace (also the SupportsOverwrite truncate path)
    else replaceFilters = Some(filters)
    this
  }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    dynamic = true
    this
  }

  override def build(): Write =
    // no V1 fallback exec exists for OverwritePartitionsDynamic — that
    // path is a real BatchWrite over the task-level staged writers
    if (dynamic) new LakeDynamicOverwriteWrite(params, info)
    else new V1Write {
      override def toInsertableRelation: InsertableRelation =
        new InsertableRelation {
          override def insert(data: DataFrame, overwrite: Boolean): Unit = {
            val spark = data.sparkSession
            replaceFilters match {
              case Some(filters) =>
                val cond = filters.flatMap(LakeV2Scan.translate)
                  .reduce(_ && _)
                LakeDataSource
                  .ensureTable(spark, LakeDataSource.path(params), params, None)
                  .replaceWhere(cond, data)
                ()
              case None =>
                LakeDataSource.runOperation(spark, params,
                  if (overwrite) "overwrite" else op, data)
            }
          }
        }
    }
}
