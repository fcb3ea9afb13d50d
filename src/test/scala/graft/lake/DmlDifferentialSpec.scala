package graft.lake

import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

/**
 * Differential DML harness: seeded conditions — `=`, `<`, `BETWEEN`, `IN`,
 * `OR`, `LIKE` and `IS NULL` — run through the four condition-taking DML
 * calls in turn (copy-on-write [[LakeTable.delete]] and
 * [[LakeTable.update]], then merge-on-read [[LakeTable.deleteWhere]] and
 * [[LakeTable.updateWhere]]) must agree with a small in-memory model, on the
 * rows and on each commit's change-feed rows. Before every call,
 * [[LakeTable.skippingStats]] must keep at least as many files as hold a
 * matching row.
 *
 * The cases cover INT, STRING (supplementary-plane keys, whose UTF-16 and
 * byte orders disagree), DATE and TIMESTAMP key columns, partitioned and
 * unpartitioned tables, zone stats and blooms on and off, under the UTC and
 * `America/Los_Angeles` session zones. Keys are written and read back as
 * text cast in the session zone, so a TIMESTAMP literal means the same
 * local time in the data, the condition and the model.
 */
class DmlDifferentialSpec extends SparkSpec {
  import DmlDifferentialSpec._
  import spark.implicits._

  private val ZoneKey = "spark.sql.session.timeZone"

  /** Partition of a key: a pure function of it (an update never moves a
    * row to another partition). */
  private def part(i: Option[Int]): String = i.fold("pn")(i => s"p${i % 3}")

  private def frame(c: Case, rows: Seq[(Option[Int], Int)]) =
    rows.map { case (i, v) => (i.map(text(c.keyType, _)), part(i), v) }
      .toDF("kt", "p", "v")
      .select(expr(s"CAST(kt AS ${c.keyType})").as("k"), col("p"), col("v"))
      .coalesce(1)

  /** (key text, partition, value) of every live row. */
  private def scan(t: LakeTable): Seq[Row] =
    t.read.select(expr("CAST(k AS STRING)"), col("p"), col("v")).collect().toSeq

  private def modelRow(c: Case, i: Option[Int], v: Int): Row =
    Row(i.map(text(c.keyType, _)).orNull, part(i), v)

  private def sorted(rs: Seq[Row]): Seq[String] = rs.map(_.toString).sorted

  private def run(seed: Long, c: Case): Unit = {
    val t = LakeTable(spark, s"${tmpDir("dmldiff")}/t")
    val statCols = if (c.stats) Seq("k") else Nil
    t.create(frame(c, Nil).schema, partitionBy = if (c.partitioned) Some("p") else None,
      enableChangeFeed = true, statsColumns = statCols, bloomFilterColumns = statCols)
    c.batches.foreach(b => t.append(frame(c, b)))
    var model: Seq[(Option[Int], Int)] = c.batches.flatten
    for ((op, cond) <- c.ops) {
      val label = s"seed=$seed $op ${cond.sql(c.keyType)} $c"
      val hit: ((Option[Int], Int)) => Boolean = { case (i, v) => cond.matches(c.keyType, i, v) }
      // the files holding a match, from an unfiltered scan of the files
      // (input_file_name needs one source: with live deletion vectors the
      // read is a join, and the check falls back to "some file is kept")
      val wantFiles =
        if (t.deleteVectorDirs.nonEmpty) math.min(1, model.count(hit))
        else t.read.select(input_file_name(), expr("CAST(k AS STRING)"), col("p"), col("v"))
          .collect().toSeq.collect {
            case r if model.exists(m => hit(m) && modelRow(c, m._1, m._2) ==
              Row(r.get(1), r.get(2), r.get(3))) => r.getString(0)
          }.distinct.size
      assert(t.skippingStats(cond.sql(c.keyType))._1 >= wantFiles, label)
      val v0 = t.currentVersion
      val sql = cond.sql(c.keyType)
      val bump = Map("v" -> (col("v") + 1000))
      op match {
        case "delete" => t.delete(sql)
        case "update" => t.update(sql, bump)
        case "deleteWhere" => t.deleteWhere(sql)
        case _ => t.updateWhere(sql, bump)
      }
      val matched = model.filter(hit)
      val wantChanges = matched.flatMap { case (i, v) =>
        def ch(v: Int, kind: String) = Row.fromSeq(modelRow(c, i, v).toSeq :+ kind)
        if (op.startsWith("delete")) Seq(ch(v, "delete"))
        else Seq(ch(v, "update_preimage"), ch(v + 1000, "update_postimage"))
      }
      model =
        if (op.startsWith("delete")) model.filterNot(hit)
        else model.map(m => if (hit(m)) (m._1, m._2 + 1000) else m)
      assert(sorted(scan(t)) == sorted(model.map { case (i, v) => modelRow(c, i, v) }),
        label)
      val changes =
        if (t.currentVersion == v0) Nil
        else t.readChangeFeed(t.currentVersion, Some(t.currentVersion))
          .select(expr("CAST(k AS STRING)"), col("p"), col("v"), col(LakeTable.ChangeTypeCol))
          .collect().toSeq
      assert(sorted(changes) == sorted(wantChanges), label)
    }
  }

  test("random conditions: delete, update, deleteWhere and updateWhere agree " +
      "with the model on rows and change feed; skippingStats keeps every match") {
    val cases = (1L to Cases).map(seed => seed -> caseOf(seed))
    // the seeds exercise each switch both ways, every key type and zone,
    // and every condition kind on every key type
    Seq[Case => Boolean](_.partitioned, _.stats, _.zone == "UTC")
      .foreach(f => assert(cases.exists(c => f(c._2)) && !cases.forall(c => f(c._2))))
    for (kt <- KeyTypes) assert(cases.filter(_._2.keyType == kt)
      .flatMap(_._2.ops.map(_._2.kind)).toSet == Kinds.toSet, kt)
    for ((seed, c) <- cases) {
      spark.conf.set(ZoneKey, c.zone)
      try run(seed, c) finally spark.conf.set(ZoneKey, "UTC")
    }
  }
}

object DmlDifferentialSpec {
  /** Seeded cases per suite run: one table and four DML calls each. */
  val Cases = 8L

  val KeyTypes = Vector("int", "string", "date", "timestamp")

  val Kinds = Vector("=", "<", "between", "in", "or", "like", "is null")

  private val Ops = Vector("delete", "update", "deleteWhere", "updateWhere")

  /** STRING keys in UTF-8 byte order (Spark's string order): the
    * supplementary-plane emoji sorts ABOVE U+FFFF here, below it in UTF-16. */
  private val Strings = Vector("", "a", "ab", "b", "z", "zz", "\u00e9", "\u03a9",
    "\uFFFF", "\uFFFFa", "\uD83D\uDE00", "\uD83D\uDE00x")

  /** Key index `i` as the text its type casts from and renders to; index
    * order is the type's order. */
  def text(keyType: String, i: Int): String = keyType match {
    case "int" => (i * 10).toString
    case "string" => Strings(i)
    case "date" => java.time.LocalDate.of(2024, 1, 1).plusDays(i * 3L).toString
    case _ => java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusHours(i * 7L)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
  }

  private def literal(keyType: String, i: Int): String = keyType match {
    case "int" => text(keyType, i)
    case "string" => s"'${text(keyType, i)}'"
    case t => s"${t.toUpperCase} '${text(keyType, i)}'"
  }

  /** One seeded condition over key `k` (and `v` for OR). */
  final case class Cond(kind: String, a: Int, b: Int, in: Seq[Int], prefix: String) {
    def sql(kt: String): String = kind match {
      case "=" => s"k = ${literal(kt, a)}"
      case "<" => s"k < ${literal(kt, a)}"
      case "between" => s"k BETWEEN ${literal(kt, a)} AND ${literal(kt, b)}"
      case "in" => s"k IN (${in.map(literal(kt, _)).mkString(", ")})"
      case "or" => s"k <= ${literal(kt, a)} OR v < $b"
      case "like" => (if (kt == "string") "k" else "CAST(k AS STRING)") + s" LIKE '$prefix%'"
      case _ => "k IS NULL"
    }
    def matches(kt: String, i: Option[Int], v: Int): Boolean = kind match {
      case "=" => i.contains(a)
      case "<" => i.exists(_ < a)
      case "between" => i.exists(x => a <= x && x <= b)
      case "in" => i.exists(in.contains)
      case "or" => i.exists(_ <= a) || v < b
      case "like" => i.exists(x => text(kt, x).startsWith(prefix))
      case _ => i.isEmpty
    }
  }

  final case class Case(keyType: String, partitioned: Boolean, stats: Boolean,
      zone: String, batches: Seq[Seq[(Option[Int], Int)]], ops: Seq[(String, Cond)])

  def caseOf(seed: Long): Case = {
    val r = new Random(seed)
    val keyType = KeyTypes(((seed - 1) % KeyTypes.size).toInt)
    // the n-th case of a key type takes condition kinds 4n..4n+3 round-robin,
    // so the two cases of each type cover all seven kinds
    val nth = ((seed - 1) / KeyTypes.size).toInt
    def cond(kind: String) = {
      val Seq(a, b) = Seq.fill(2)(r.nextInt(Strings.size)).sorted
      val in = Seq.fill(3)(r.nextInt(Strings.size)).distinct
      // a prefix of whole code points (never half a surrogate pair)
      val x = text(keyType, r.nextInt(Strings.size)).codePoints.toArray
      val prefix = new String(x, 0, math.min(x.length, 1 + r.nextInt(math.max(1, x.length))))
      Cond(kind, a, if (kind == "or") r.nextInt(60) else b, in, prefix)
    }
    // contiguous key ranges per batch: each batch lands as narrow files
    val keys = r.shuffle((0 until Strings.size).toList).take(6 + r.nextInt(5)).sorted
    val rows = (keys.map(Option(_)) ++ Seq.fill(r.nextInt(3))(None))
      .map(i => (i, r.nextInt(100)))
    Case(keyType, partitioned = r.nextBoolean(), stats = r.nextInt(3) > 0,
      zone = if (r.nextBoolean()) "UTC" else "America/Los_Angeles",
      batches = rows.grouped((rows.size + 1) / 2).toSeq,
      ops = Ops.indices.map(j => Ops(j) -> cond(Kinds((nth * 4 + j) % Kinds.size))))
  }
}
