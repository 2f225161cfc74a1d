package graft.plans

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst predicate: `dv_contains(key, dv_files)` is true when
  * one of the deletion-vector files (S18/S20: single-column parquets of
  * deleted keys) holds `key`. Readers apply a DV group as
  * `NOT dv_contains(keyCol, files)` INSIDE the scan task — the way
  * Iceberg applies equality-delete files in its reader — instead of
  * scanning the DV into a DataFrame, inferring its schema (a one-task
  * job), broadcasting it (an AQE stage and a job) and anti-joining it.
  *
  * `dv_files` is one foldable `array<string>` of qualified paths. Like
  * every non-primitive literal it reaches generated code through the
  * codegen `references`, so a repeated read over other DVs compiles to
  * the same code text and hits the codegen cache.
  *
  * Semantics (the anti join's, exactly):
  *  - integral keys compare as `long` on both sides — an `int` DV on a
  *    `long` column matches as the join's widening cast did; string keys
  *    compare as `UTF8String` bytes; other key types are refused;
  *  - a null key is never contained (false: the anti join kept the row),
  *    and a null DV key matches nothing; the result is never null, so a
  *    `NOT` over it cannot drop a row.
  *
  * Each JVM loads a DV's key set on first probe and reads each file once:
  * sets are cached by qualified path (DV files are write-once and
  * UUID-named, so an entry cannot go stale) in a bounded map cleared when
  * full. The sets are read with the SESSION's Hadoop conf, captured at
  * analysis and shipped with the plan — a bare `new Configuration()` on an
  * executor has no `spark.hadoop.*` settings (the LogTail reader's rule).
  * The conf rides outside the case-class fields, so it neither prints in
  * plans nor takes part in expression equality. */
case class DvContains(key: Expression, dvFiles: Expression)(
    val hadoopConf: Map[String, String]) extends BinaryExpression with Predicate {

  override def left: Expression = key
  override def right: Expression = dvFiles
  override def nullable: Boolean = false
  override def prettyName: String = "dv_contains"
  override protected def otherCopyArgs: Seq[AnyRef] = hadoopConf :: Nil

  private def stringKeys: Boolean = key.dataType == StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (DvContains.family(key.dataType).isEmpty)
      TypeCheckResult.TypeCheckFailure(
        s"dv_contains keys must be integral or string, got ${key.dataType.catalogString}")
    else if (!dvFiles.dataType.isInstanceOf[ArrayType] ||
        dvFiles.dataType.asInstanceOf[ArrayType].elementType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"dv_contains takes an ARRAY<STRING> of files, got ${dvFiles.dataType.catalogString}")
    else if (!dvFiles.foldable)
      TypeCheckResult.TypeCheckFailure("dv_contains: dv_files must be a literal")
    else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val sets: DvContains.KeySets =
    DvContains.keySets(dvFiles.eval().asInstanceOf[ArrayData], hadoopConf, stringKeys)

  override def eval(input: InternalRow): Any = {
    val k = key.eval(input)
    if (k == null) false
    else if (stringKeys) DvContains.probeString(sets, k.asInstanceOf[UTF8String])
    else DvContains.probeLong(sets, k.asInstanceOf[Number].longValue)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = key.genCode(ctx)
    val files = dvFiles.genCode(ctx)
    val conf = ctx.addReferenceObj("dvConf", hadoopConf, "scala.collection.immutable.Map")
    // resolved on the first non-null key of each partition, then reused
    val sets = ctx.addMutableState(classOf[DvContains.KeySets].getName, "dvSets")
    val probe =
      if (stringKeys) s"graft.plans.DvContains.probeString($sets, ${k.value})"
      else s"graft.plans.DvContains.probeLong($sets, (long) ${k.value})"
    ev.copy(isNull = FalseLiteral, code = code"""
      ${k.code}
      boolean ${ev.value} = false;
      if (!${k.isNull}) {
        if ($sets == null) {
          ${files.code}
          $sets = graft.plans.DvContains.keySets(${files.value}, $conf, $stringKeys);
        }
        ${ev.value} = $probe;
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DvContains =
    copy(key = newLeft, dvFiles = newRight)(hadoopConf)
}

object DvContains {

  /** The key sets of one `dv_files` list: sorted distinct longs per file
    * (integral keys) or a hash set per file (string keys). */
  final class KeySets(val longs: Array[Array[Long]],
      val strings: Array[java.util.Set[UTF8String]])

  def probeLong(s: KeySets, k: Long): Boolean = {
    var i = 0
    while (i < s.longs.length) {
      if (java.util.Arrays.binarySearch(s.longs(i), k) >= 0) return true
      i += 1
    }
    false
  }

  def probeString(s: KeySets, k: UTF8String): Boolean = {
    var i = 0
    while (i < s.strings.length) {
      if (s.strings(i).contains(k)) return true
      i += 1
    }
    false
  }

  /** The key-type contract: Some(true) for the string family, Some(false)
    * for the integral one, None for a type a DV may not key on. */
  private[graft] def family(dt: DataType): Option[Boolean] = dt match {
    case StringType => Some(true)
    case ByteType | ShortType | IntegerType | LongType => Some(false)
    case _ => None
  }

  /** A DV file's single key column, read from its parquet footer alone (no
    * Spark job). Refuses a file with more than one column or a key type
    * outside [[family]], naming the file. */
  private[graft] def keyField(conf: Configuration, path: Path): StructField = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
    val schema =
      try new ParquetToSparkSchemaConverter().convert(reader.getFooter.getFileMetaData.getSchema)
      finally reader.close()
    if (schema.length != 1)
      throw new IllegalStateException(s"deletion vector $path must hold exactly one " +
        s"key column, found ${schema.fieldNames.mkString(", ")}")
    val f = schema.head
    if (family(f.dataType).isEmpty)
      throw new IllegalStateException(s"deletion vector $path keys on '${f.name}' of " +
        s"type ${f.dataType.simpleString}; only integral and string keys are supported")
    f
  }

  // qualified path -> sorted Array[Long] or java.util.Set[UTF8String].
  // Bounded like TableLog's checkpoint cache: cleared wholesale when full
  private val MaxCached = 64
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  def keySets(files: ArrayData, hadoopConf: Map[String, String],
      stringKeys: Boolean): KeySets = {
    val paths = (0 until files.numElements()).collect {
      case i if !files.isNullAt(i) => files.getUTF8String(i).toString
    }
    lazy val conf = {
      val c = new Configuration()
      hadoopConf.foreach { case (k, v) => c.set(k, v) }
      c
    }
    val loaded = paths.map { p =>
      if (cache.size >= MaxCached) cache.clear()
      cache.computeIfAbsent(p, _ => load(conf, new Path(p)))
    }
    def wrongFamily(p: String): Nothing = throw new IllegalStateException(
      s"deletion vector $p holds ${if (stringKeys) "integral" else "string"} keys " +
        s"but the column it filters is ${if (stringKeys) "string" else "integral"}: " +
        "integral and string keys never match")
    if (stringKeys)
      new KeySets(Array.empty, paths.zip(loaded).map {
        case (_, s: java.util.Set[UTF8String] @unchecked) => s
        case (p, _) => wrongFamily(p)
      }.toArray)
    else
      new KeySets(paths.zip(loaded).map {
        case (_, a: Array[Long]) => a
        case (p, _) => wrongFamily(p)
      }.toArray, Array.empty)
  }

  /** One DV file's keys, nulls dropped, through the shared Group decode. */
  private def load(conf: Configuration, path: Path): AnyRef = {
    val f = keyField(conf, path)
    val reader = ParquetReader.builder(new GroupReadSupport(), path).withConf(conf).build()
    try {
      val values = Iterator.continually(reader.read()).takeWhile(_ != null)
        .map(g => GroupValue(g, f.name, f.dataType)).filter(_ != null)
      if (f.dataType == StringType) {
        val set = new java.util.HashSet[UTF8String]()
        values.foreach(v => set.add(v.asInstanceOf[UTF8String]))
        set
      } else values.map(_.asInstanceOf[Number].longValue).toArray.sorted.distinct
    } finally reader.close()
  }

  private[plans] val builder = (exprs: Seq[Expression]) => {
    require(exprs.length == 2, "dv_contains(key, dv_files) takes exactly 2 arguments")
    import scala.jdk.CollectionConverters._
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    DvContains(exprs.head, exprs(1))(
      conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap)
  }
}

/** One field of a parquet-mr example `Group` as its Catalyst value (null
  * when the row holds none) — the row decode the log tail source and the
  * DV key loader share. */
private[graft] object GroupValue {
  def apply(g: Group, name: String, dt: DataType): Any =
    if (g.getFieldRepetitionCount(name) == 0) null
    else dt match {
      case LongType => g.getLong(name, 0)
      case IntegerType => g.getInteger(name, 0)
      case ShortType => g.getInteger(name, 0).toShort
      case ByteType => g.getInteger(name, 0).toByte
      case DoubleType => g.getDouble(name, 0)
      case FloatType => g.getFloat(name, 0)
      case BooleanType => g.getBoolean(name, 0)
      case StringType => UTF8String.fromString(g.getString(name, 0))
      case other => throw new IllegalStateException(
        s"parquet group decode: '$name' ${other.simpleString} is not supported")
    }
}
