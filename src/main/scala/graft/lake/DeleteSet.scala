package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EqualTo, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{BooleanType, DataType, StructType}

/** Merge-on-read delete sets (equality-delete key files, `del|`, and
  * deletion vectors, `dv|`) applied as ONE membership predicate over
  * the scan's key columns instead of a broadcast join.
  *
  * A delete file is KB-sized and immutable. A broadcast join over it
  * cost a Spark job per read to collect it, and a two-column
  * (file, position) key built an `UnsafeHashedRelation` that claims a
  * whole Tungsten page. Here the files are decoded on the DRIVER with
  * Spark's own parquet reader (no job), their key rows are projected
  * into a hash set of `UnsafeRow`s, and the set ships as a
  * `SparkContext.broadcast` variable (no job, no Tungsten page) that
  * the codegen'd [[InDeleteSet]] predicate probes per scanned row.
  *
  * Join semantics are kept exactly: key rows with a null field are
  * dropped (a null never joins), floating-point fields are normalized
  * the way join keys are (`NaN`s equal, `-0.0` = `0.0`), and a key
  * column whose type differs from the table's compares in the type the
  * session's analyzer coerces the join's `=` to.
  *
  * Decoded rows are cached per process on the file's
  * (path, length, mtime) identity, like [[SchemaCache]]: a delete file
  * is read once, not once per read. Cleared wholesale past
  * `MaxCachedRows`. */
private[lake] object DeleteSet {

  /** Decoded rows kept per process before the cache clears. */
  private val MaxCachedRows = 1 << 20

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, (StructType, Array[UnsafeRow])]()
  private var cachedRows = 0L

  /** Membership of a scan's (file, row position) columns in the
    * positions deletion vectors `files` hold (decoded under `schema`,
    * the vectors' one known shape). */
  def inVectors(spark: SparkSession, conf: Configuration, files: Seq[String],
                schema: StructType, file: Column, pos: Column): Column =
    member(spark, decode(spark, conf, files, Some(schema)),
      schema.fieldNames.toSeq, schema.fields.map(_.dataType).toSeq, Seq(file, pos))

  /** Membership of `scan`'s key columns in equality-delete key files
    * `files`. The key is their footer schemas merged the way
    * `mergeSchema` merges them; a file missing a key column null-fills
    * it, so none of its rows ever match. */
  def inKeys(spark: SparkSession, conf: Configuration, files: Seq[String],
             scan: DataFrame): Column = {
    val decoded = decode(spark, conf, files, None)
    val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
    val merged = decoded.map(_._1).reduce(ColumnBridge.mergeSchemas(_, _, caseSensitive))
    val resolver = spark.sessionState.conf.resolver
    val keyCols = merged.fields.toSeq.map { k =>
      val s = scan.schema.find(f => resolver(f.name, k.name)).getOrElse(
        throw new IllegalArgumentException(
          s"delete key column ${k.name} is not a column of the table " +
            s"(have ${scan.columns.mkString(", ")})"))
      val t =
        if (s.dataType == k.dataType) s.dataType
        else comparisonType(spark, s.dataType, k.dataType).getOrElse(
          throw new IllegalArgumentException(
            s"delete key column ${k.name}: ${k.dataType.catalogString} " +
              s"does not compare with ${s.dataType.catalogString}"))
      (if (s.dataType == t) col(s.name) else col(s.name).cast(t), t)
    }
    member(spark, decoded, merged.fieldNames.toSeq, keyCols.map(_._2), keyCols.map(_._1))
  }

  /** The type the session's analyzer compares a `table`-typed column
    * and a `key`-typed one in, as it coerces a join's `=` (ANSI mode
    * or not): e.g. a string key against a long column compares as
    * long, so `"07"` matches `7L`. None when they do not compare. Only
    * analyzes an empty relation; runs no job. */
  private def comparisonType(spark: SparkSession, table: DataType,
                             key: DataType): Option[DataType] =
    try {
      val probe = spark.createDataFrame(java.util.Collections.emptyList[Row](),
        new StructType().add("t", table).add("k", key)).where(col("t") === col("k"))
      probe.queryExecution.analyzed.collectFirst {
        case Filter(EqualTo(l, _), _) => l.dataType
      }
    } catch { case _: AnalysisException => None }

  /** The data files deletion vectors `files` name, as Hadoop paths:
    * `_metadata.file_path` is URL-encoded ([[SparkPath]]), manifest
    * lines are not, so callers compare `Path`s. */
  def vectorTargets(spark: SparkSession, conf: Configuration, files: Seq[String],
                    schema: StructType): Set[Path] =
    decode(spark, conf, files, Some(schema)).iterator
      .flatMap(_._2.iterator.filterNot(_.isNullAt(0)).map(_.getUTF8String(0).toString))
      .toSet.map((s: String) => SparkPath.fromUrlString(s).toPath)

  /** The hash set of `decoded`'s key rows (fields `names`, compared
    * as `types`) and the predicate probing it with `scanCols`. */
  private def member(spark: SparkSession,
                     decoded: Seq[(StructType, Array[UnsafeRow])],
                     names: Seq[String], types: Seq[DataType],
                     scanCols: Seq[Column]): Column = {
    val resolver = spark.sessionState.conf.resolver
    val tz = Option(spark.sessionState.conf.sessionLocalTimeZone)
    val set = new java.util.HashSet[UnsafeRow]()
    decoded.foreach { case (schema, rows) =>
      val idx = names.map(n => schema.fields.indexWhere(f => resolver(f.name, n)))
      if (!idx.contains(-1)) {
        val project = UnsafeProjection.create(idx.zip(types).map { case (i, t) =>
          val field: Expression = BoundReference(i, schema(i).dataType, nullable = true)
          ColumnBridge.normalizeFloats(
            if (field.dataType == t) field else Cast(field, t, tz))
        })
        rows.foreach { r =>
          val k = project(r)
          if (!k.anyNull) set.add(k.copy())
        }
      }
    }
    ColumnBridge.column(InDeleteSet(scanCols.map(ColumnBridge.expression),
      spark.sparkContext.broadcast(set), set.size))
  }

  /** Each file's (schema, rows), from the cache or decoded on the
    * driver under `schema` (else the file's footer schema). */
  private def decode(spark: SparkSession, conf: Configuration, files: Seq[String],
                     schema: Option[StructType]): Seq[(StructType, Array[UnsafeRow])] =
    files.map { f =>
      val p = new Path(f)
      val (len, mtime) = FsListing.fileMeta(p, conf).getOrElse(
        throw new java.io.FileNotFoundException(s"delete file $f is missing"))
      val id = s"$f#$len#$mtime"
      Option(cache.get(id)).getOrElse {
        val s = schema.getOrElse(footerSchema(spark, conf, p))
        val read = new ParquetFileFormat().buildReaderWithPartitionValues(
          spark, s, new StructType(), s, Nil,
          Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), conf)
        val toUnsafe = UnsafeProjection.create(s)
        val rows = read(PartitionedFile(InternalRow.empty, SparkPath.fromPath(p),
          0L, len, Array.empty[String], mtime, len))
          .map(r => toUnsafe(r).copy()).toArray
        remember(id, (s, rows))
        (s, rows)
      }
    }

  private def remember(id: String, d: (StructType, Array[UnsafeRow])): Unit =
    synchronized {
      if (cachedRows + d._2.length > MaxCachedRows) { cache.clear(); cachedRows = 0L }
      if (d._2.length <= MaxCachedRows) { cache.put(id, d); cachedRows += d._2.length }
    }

  /** A parquet file's Spark schema from its footer — the written
    * Spark schema when present, else the converted parquet schema. */
  private def footerSchema(spark: SparkSession, conf: Configuration, p: Path): StructType = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
    val meta = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(new org.apache.parquet.hadoop.Footer(p, meta),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }
}

/** True iff `children`, floating-point fields normalized as join keys
  * are, form a row of the broadcast delete `set`. Never null: a row
  * with a null key field matches nothing, since the set holds no null
  * fields. The set rides a broadcast handle, not a plan literal, and
  * the probe is codegen'd (see [[graft.functions.SketchExpressions]]).
  * `size` is for plan strings only. */
case class InDeleteSet(children: Seq[Expression],
                       set: Broadcast[java.util.HashSet[UnsafeRow]], size: Int)
    extends Expression {

  override def nullable: Boolean = false
  override def dataType: DataType = BooleanType
  override def prettyName: String = "in_delete_set"
  override def toString: String =
    s"$prettyName(${children.mkString(", ")}; $size keys)"

  @transient private lazy val keys = children.map(ColumnBridge.normalizeFloats)
  @transient private lazy val project = UnsafeProjection.create(keys)
  @transient private lazy val members = set.value

  override def eval(input: InternalRow): Any = members.contains(project(input))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("deleteSetBc", set, classOf[Broadcast[_]].getName)
    val members = ctx.addMutableState("java.util.Set", "deleteSet",
      v => s"$v = (java.util.Set) $ref.value();")
    val key = GenerateUnsafeProjection.createCode(ctx, keys)
    ev.copy(code = code"""
      ${key.code}
      boolean ${ev.value} = $members.contains(${key.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}
