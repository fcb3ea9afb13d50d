package graft.lake

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, BinaryComparison, BoundReference, Cast, EqualNullSafe, EvalMode, Expression, In, InSet, Literal, Or, Predicate}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** One visible file of a manifest snapshot: its root-relative path, the
 *  manifest data dir it sits in, its Hadoop status (as the lister returned
 *  it) and its partition values. */
private[lake] final case class SnapshotFile(rel: String, dir: String,
    status: FileStatus, partition: InternalRow)

/**
 * Spark `FileIndex` over the visible files of one manifest snapshot — the
 * single scan every lake read plans through (as a `HadoopFsRelation`), so
 * the DataFrame API, plain `spark.sql` and the engine's own reads all prune
 * files at the same point: `listFiles`, with the filters Catalyst has
 * already pushed down (through projections, joins and subqueries alike).
 *
 * Pruning is only ever an optimization — a file is dropped only when its
 * zone map or bloom sidecar PROVES no row can satisfy a filter:
 *  - partition filters evaluate exactly on each file's partition values;
 *  - `=`, `<`, `<=`, `>`, `>=`, `IN` (and `AND`/`OR` of them) between a
 *    bare column and a literal of the column's type compare against the
 *    file's [min, max] under Catalyst's ordering for that type — strings
 *    in UTF8 byte order, the order parquet and Spark both record;
 *  - `=`/`IN` on a bloom-indexed column also probe the file's bloom, with
 *    the literal rendered the way the bloom build renders values (not for
 *    TIMESTAMP: that rendering depends on the writer's session zone);
 *  - any other shape, a NULL or NaN literal, a column without stats or an
 *    unparseable stat keeps the file.
 *
 * Zone stats arrive as the manifest stores them (CAST-to-STRING renderings,
 * so old manifests read unchanged) and are parsed once per index into the
 * column's type with Catalyst `Cast`. A TIMESTAMP rendering is local time
 * in the WRITER's session zone, which the manifest does not record, so its
 * parsed bounds widen by the largest gap two zone offsets can have.
 *
 * `version` is `Some(v)` when the index lists every visible file of
 * manifest version `v` of the table at `root` (a plain snapshot read), so
 * an analyzed plan can say which snapshot it reads
 * ([[LakeTable.snapshotOf]]); a partition-scoped or write-path index
 * carries None.
 */
private[lake] final class ManifestFileIndex(
    val root: Path,
    val version: Option[Long],
    val files: Seq[SnapshotFile],
    override val partitionSchema: StructType,
    val dataSchema: StructType,
    stats: => Map[String, Map[String, (String, String)]],
    blooms: String => Map[String, Map[String, BloomFilter]],
    bloomCols: Set[String],
    zone: String) extends FileIndex {

  override def rootPaths: Seq[Path] = Seq(root)

  override def inputFiles: Array[String] = files.map(_.status.getPath.toString).toArray

  override def refresh(): Unit = ()

  /** Total bytes of every file the index can return — what join planning
   *  sizes the relation by. */
  override def sizeInBytes: Long = files.map(_.status.getLen).sum

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = prune(partitionFilters, dataFilters)
    val order = kept.map(_.partition).distinct
    val byPartition = kept.groupBy(_.partition)
    order.map(p => PartitionDirectory(p, byPartition(p).map(_.status).toArray))
  }

  /** The files that may hold a row satisfying every filter in `filters`
   *  (partition-column filters and zone filters alike). */
  def filesMatching(filters: Seq[Expression]): Seq[SnapshotFile] = {
    val pcols = partitionSchema.fieldNames.toSet
    val (pf, df) = filters.partition(f =>
      f.references.nonEmpty && f.references.forall(a => pcols(a.name)))
    prune(pf, df)
  }

  private def prune(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[SnapshotFile] = {
    val inPartition: InternalRow => Boolean =
      if (partitionFilters.isEmpty || partitionSchema.isEmpty) _ => true
      else {
        val pred = Predicate.createInterpreted(partitionFilters.reduce(And).transform {
          case a: AttributeReference if partitionSchema.fieldNames.contains(a.name) =>
            val i = partitionSchema.fieldIndex(a.name)
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
        })
        row => scala.util.Try(pred.eval(row)).getOrElse(true)
      }
    files.filter(f => inPartition(f.partition) && dataFilters.forall(mayHold(f, _)))
  }

  /** Can file `f` hold a row satisfying `e`? */
  private def mayHold(f: SnapshotFile, e: Expression): Boolean = e match {
    case And(l, r) => mayHold(f, l) && mayHold(f, r)
    case Or(l, r) => mayHold(f, l) || mayHold(f, r)
    case In(a: Attribute, vs) => vs.exists(v => admits(f, a, literal(a, v), "="))
    case InSet(a: Attribute, vs) => vs.exists(x => admits(f, a, usable(a, x), "="))
    case _: EqualNullSafe => true
    case c: BinaryComparison => (c.left, c.right) match {
      case (a: Attribute, v) => admits(f, a, literal(a, v), c.symbol)
      case (v, a: Attribute) => admits(f, a, literal(a, v), Flipped(c.symbol))
      case _ => true
    }
    case _ => true
  }

  private val Flipped = Map("=" -> "=", "<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=")

  /** Does `f` admit a row with `a <op> x`? An unusable value (None) admits. */
  private def admits(f: SnapshotFile, a: Attribute, x: Option[Any], op: String): Boolean =
    x.forall { x =>
      val ord = PhysicalDataType.ordering(a.dataType)
      val inRange = typedStats.get(f.rel).flatMap(_.get(a.name)).forall {
        case (lo, hi) => op match {
          case "=" => ord.lteq(lo, x) && ord.lteq(x, hi)
          case "<" => ord.lt(lo, x)
          case "<=" => ord.lteq(lo, x)
          case ">" => ord.gt(hi, x)
          case _ => ord.gteq(hi, x)
        }
      }
      inRange && (op != "=" || !bloomCols(a.name) || a.dataType == TimestampType ||
        blooms(f.dir).get(f.rel).flatMap(_.get(a.name)).forall(b =>
          b.mightContainString(render(x, a.dataType))))
    }

  /** Foldable `v` of exactly `a`'s type, evaluated — see [[usable]]. */
  private def literal(a: Attribute, v: Expression): Option[Any] =
    if (!v.foldable || v.dataType != a.dataType) None
    else scala.util.Try(v.eval()).toOption.flatMap(usable(a, _))

  /** An internal value of `a`'s type that can prune: non-NULL, not NaN,
   *  of a type with a usable ordering. */
  private def usable(a: Attribute, x: Any): Option[Any] =
    Option(x).filter(x => prunable(a.dataType) && !isNaN(x))

  private def prunable(dt: DataType): Boolean = dt match {
    case _: NumericType | DateType | TimestampType | TimestampNTZType | BooleanType => true
    case s: StringType => GraftColumnBridge.binaryOrdered(s)
    case _ => false
  }

  private def isNaN(x: Any): Boolean = x match {
    case d: Double => d.isNaN
    case f: Float => f.isNaN
    case _ => false
  }

  private def render(x: Any, dt: DataType): String =
    Cast(Literal(x, dt), StringType, Some(zone)).eval().toString

  /** Zone stats parsed into each column's type, once per index; a stat
   *  that does not parse back (or parses to NaN) is dropped — absent stats
   *  never prune. TIMESTAMP bounds widen by the widest gap two java.time
   *  offsets (±18h) can have: 36 hours each way. */
  private lazy val typedStats: Map[String, Map[String, (Any, Any)]] = {
    val types = dataSchema.fields.map(f => f.name -> f.dataType)
      .filter { case (_, dt) => prunable(dt) }.toMap
    def parse(s: String, dt: DataType): Option[Any] =
      scala.util.Try(Cast(Literal(s), dt, Some(zone), EvalMode.TRY).eval()).toOption
        .filter(x => x != null && !isNaN(x))
    val slack = 2L * java.time.ZoneOffset.MAX.getTotalSeconds * 1000000L
    def widen(lo: Any, hi: Any, dt: DataType): (Any, Any) = (lo, hi, dt) match {
      case (l: Long, h: Long, TimestampType) =>
        (math.max(l, Long.MinValue + slack) - slack, math.min(h, Long.MaxValue - slack) + slack)
      case _ => (lo, hi)
    }
    stats.map { case (rel, mm) =>
      rel -> mm.flatMap { case (c, (mn, mx)) =>
        types.get(c).flatMap(dt => for (lo <- parse(mn, dt); hi <- parse(mx, dt))
          yield c -> widen(lo, hi, dt))
      }
    }
  }

  // Two indexes over the same files of the same table read the same rows:
  // equal relations let Spark reuse exchanges and cached plans across reads.
  private lazy val key = (root, files.map(_.rel), partitionSchema)
  override def equals(o: Any): Boolean = o match {
    case i: ManifestFileIndex => key == i.key
    case _ => false
  }
  override def hashCode: Int = key.hashCode
}
