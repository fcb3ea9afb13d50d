package graft.lake

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/**
 * Differential MERGE harness: random small tables and sources, merged
 * twice — once with file pruning forced on (`pruneMinBytes` = 0, so every
 * unpartitioned case that can prune does) and once at the default — must
 * both agree with a small in-memory model, on the rows and on the merge's
 * `table_changes` rows.
 *
 * The cases mix key types (INT, BIGINT, an INT source merged into BIGINT,
 * STRING with supplementary-plane characters, TIMESTAMP), NULL keys under
 * plain and null-safe matching, partitioned and unpartitioned tables,
 * deletion vectors on and off, change feed on and off, and the
 * `WHEN NOT MATCHED BY SOURCE DELETE` clause. Generators are sampled at
 * fixed seeds: Spark round-trips are too slow for the default 100-case
 * `forAll`, and a fixed seed keeps a failure reproducible.
 */
class MergeDifferentialSpec extends SparkSpec {
  import MergeDifferentialSpec._

  private val PruneKey = "spark.graft.merge.pruneMinBytes"

  /** A key index's value in the key column's type (None = NULL). */
  private def keyValue(c: Case, i: Option[Int], forSource: Boolean): Any = i match {
    case None => null
    case Some(i) => c.keyType match {
      case "int" => i * 10
      case "bigint" => i * 10L
      case "int into bigint" => if (forSource) i * 10 else i * 10L
      case "string" => Strings(i)
      case _ => new Timestamp(Jan1 + i * 7L * 3600 * 1000)
    }
  }

  private def sqlType(c: Case, forSource: Boolean): String = c.keyType match {
    case "int into bigint" => if (forSource) "int" else "bigint"
    case t => t
  }

  /** Partition of a key: a pure function of it, so a matched update never
    * moves a row to another partition. */
  private def part(i: Option[Int]): String = i.fold("pn")(i => s"p${i % 3}")

  private def frame(c: Case, rows: Seq[(Option[Int], Int)], forSource: Boolean): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      s"k ${sqlType(c, forSource)}, p string, v int")
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (i, v) => Row(keyValue(c, i, forSource), part(i), v) }, 1), schema)
  }

  private def row(c: Case, i: Option[Int], v: Int): Row =
    Row(keyValue(c, i, forSource = false), part(i), v)

  /** The model: (rows after the merge, the merge's change rows). */
  private def model(c: Case): (Seq[Row], Seq[Row]) = {
    val target = c.batches.flatten.filterNot { case (_, v) => c.dv && v % 4 == 0 }
    def matches(t: Option[Int], s: Option[Int]) =
      if (c.nullSafe) t == s else t.isDefined && t == s
    val rows = Seq.newBuilder[Row]
    val changes = Seq.newBuilder[Row]
    def ch(r: Row, kind: String) = Row.fromSeq(r.toSeq :+ kind)
    target.foreach { case (ti, tv) =>
      c.source.find(s => matches(ti, s._1)) match {
        case Some((si, sv)) =>
          rows += row(c, si, sv)
          changes += ch(row(c, ti, tv), "update_preimage")
          changes += ch(row(c, si, sv), "update_postimage")
        case None if c.sync => changes += ch(row(c, ti, tv), "delete")
        case None => rows += row(c, ti, tv)
      }
    }
    c.source.filterNot(s => target.exists(t => matches(t._1, s._1))).foreach {
      case (si, sv) =>
        rows += row(c, si, sv)
        changes += ch(row(c, si, sv), "insert")
    }
    (rows.result(), changes.result())
  }

  /** Build the table, merge, and return (rows, the merge's change rows). */
  private def run(c: Case, pruneMinBytes: Option[Long]): (Seq[Row], Seq[Row]) = {
    val prev = spark.conf.getOption(PruneKey)
    pruneMinBytes.foreach(b => spark.conf.set(PruneKey, b.toString))
    try {
      val t = LakeTable(spark, s"${tmpDir("mdiff")}/t")
      t.create(frame(c, Nil, forSource = false).schema,
        partitionBy = if (c.partitioned) Some("p") else None,
        enableChangeFeed = c.cdf, statsColumns = Seq("k"))
      c.batches.foreach(b => t.append(frame(c, b, forSource = false)))
      if (c.dv) t.deleteWhere("v % 4 = 0")
      t.merge(frame(c, c.source, forSource = true), Seq("k"),
        deleteUnmatchedTarget = if (c.sync) Some("true") else None,
        nullSafeKeys = c.nullSafe)
      val v = t.currentVersion
      val rows = t.read.select("k", "p", "v").collect().toSeq
      val changes =
        if (!c.cdf) Nil
        else t.readChangeFeed(v, Some(v))
          .select("k", "p", "v", LakeTable.ChangeTypeCol).collect().toSeq
      (rows, changes)
    } finally prev match {
      case Some(b) => spark.conf.set(PruneKey, b)
      case None => spark.conf.unset(PruneKey)
    }
  }

  private def sorted(rs: Seq[Row]): Seq[String] = rs.map(_.toString).sorted

  test("random merges: forced pruning, the default and the model agree on " +
      "rows and change feed") {
    // key types take turns; everything else is drawn from the seed
    val cases = (1L to Cases).map(seed => seed ->
      caseGen(KeyTypes((seed % KeyTypes.size).toInt))(Gen.Parameters.default, Seed(seed))
        .getOrElse(sys.error(s"no case at seed $seed")))
    // the seeds exercise each switch both ways
    Seq[Case => Boolean](_.partitioned, _.cdf, _.dv, _.nullSafe, _.sync)
      .foreach(f => assert(cases.exists(c => f(c._2)) && !cases.forall(c => f(c._2))))
    for ((seed, c) <- cases) {
      val (wantRows, wantChanges) = model(c)
      Seq(Some(0L), None).foreach { prune =>
        val (rows, changes) = run(c, prune)
        val label = s"seed=$seed prune=$prune $c"
        assert(sorted(rows) == sorted(wantRows), label)
        if (c.cdf) assert(sorted(changes) == sorted(wantChanges), label)
      }
    }
  }
}

object MergeDifferentialSpec {
  /** Seeded cases per suite run: each runs two merges on fresh tables. */
  val Cases = 12L

  private val Jan1 = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  /** STRING keys: byte order and UTF-16 order disagree between the
    * supplementary-plane emoji and U+FFFF. */
  private val Strings = Vector("", "a", "ab", "b", "z", "\u00e9", "\u03a9",
    "\uFFFF", "\uFFFFa", "\uD83D\uDE00", "\uD83D\uDE00x", "zz")

  val KeyTypes = Vector("int", "bigint", "int into bigint", "string", "timestamp")

  final case class Case(keyType: String, partitioned: Boolean,
      cdf: Boolean, dv: Boolean, nullSafe: Boolean, sync: Boolean,
      batches: List[List[(Option[Int], Int)]], source: List[(Option[Int], Int)])

  private def keyed(keys: collection.Seq[Option[Int]]): Gen[List[(Option[Int], Int)]] =
    Gen.listOfN(keys.size, Gen.choose(0, 99)).map(vs => keys.toList.zip(vs))

  def caseGen(keyType: String): Gen[Case] = for {
    partitioned <- Gen.oneOf(true, false)
    cdf <- Gen.frequency(3 -> true, 1 -> false)
    dv <- Gen.oneOf(true, false)
    nullSafe <- Gen.oneOf(true, false)
    sync <- Gen.frequency(1 -> true, 3 -> false)
    nTarget <- Gen.choose(3, 10)
    targetKeys <- Gen.pick(nTarget, 0 until Strings.size)
    targetNulls <- Gen.choose(0, 2)
    nBatches <- Gen.choose(2, 3)
    target <- keyed(targetKeys.toSeq.sorted.map(Option(_)) ++ Seq.fill(targetNulls)(None))
    nSource <- Gen.choose(1, 5)
    sourceKeys <- Gen.pick(nSource, 0 until Strings.size)
    sourceNull <- Gen.frequency(1 -> true, 2 -> false)
    source <- keyed(sourceKeys.map(Option(_)).toSeq ++ (if (sourceNull) Seq(None) else Nil))
  } yield {
    // contiguous key ranges per batch: each batch lands as one file with a
    // narrow zone map, so a forced-pruning merge has files to skip
    val size = math.max(1, math.ceil(target.size.toDouble / nBatches).toInt)
    Case(keyType, partitioned, cdf, dv, nullSafe, sync,
      target.grouped(size).toList, source)
  }
}
