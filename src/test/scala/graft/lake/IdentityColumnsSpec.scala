package graft.lake

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkSpec

/** Delta IDENTITY columns (`GENERATED ALWAYS AS IDENTITY`): ids are minted
 *  at append time above a high-water mark that commits atomically with the
 *  batch; the sequence state rides the manifest (restored/cloned with it). */
class IdentityColumnsSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("v", StringType)))

  test("appends mint dense increasing ids and the sequence continues " +
      "across batches; multi-partition batches stay collision-free") {
    val t = LakeTable(spark, s"${tmpDir("ident_basic")}/t")
    t.create(schema, identityColumns = Map("id" -> (1L, 1L)))
    t.append(Seq("a", "b", "c").toDF("v").repartition(3))
    t.append(Seq("d", "e").toDF("v"))
    val rows = t.read.orderBy("id").as[(Long, String)].collect().toSeq
    assert(rows.map(_._1) == (1L to 5L))
    // batch 1 got 1..3 (some order), batch 2 got 4..5
    assert(rows.filter(_._1 >= 4).map(_._2).toSet == Set("d", "e"))
  }

  test("START WITH / INCREMENT BY are honored, including negative steps") {
    val t = LakeTable(spark, s"${tmpDir("ident_step")}/t")
    t.create(schema, identityColumns = Map("id" -> (100L, 5L)))
    t.append(Seq("a", "b").toDF("v"))
    assert(t.read.select("id").as[Long].collect().sorted.toSeq == Seq(100L, 105L))

    val n = LakeTable(spark, s"${tmpDir("ident_neg")}/t")
    n.create(schema, identityColumns = Map("id" -> (0L, -10L)))
    n.append(Seq("a", "b").toDF("v"))
    assert(n.read.select("id").as[Long].collect().sorted.toSeq == Seq(-10L, 0L))
  }

  test("supplying a GENERATED ALWAYS identity column is refused") {
    val t = LakeTable(spark, s"${tmpDir("ident_supplied")}/t")
    t.create(schema, identityColumns = Map("id" -> (1L, 1L)))
    val e = intercept[IllegalArgumentException] {
      t.append(Seq((42L, "a")).toDF("id", "v"))
    }
    assert(e.getMessage.contains("GENERATED ALWAYS"))
  }

  test("the high-water mark rides the manifest: RESTORE rewinds it with " +
      "the data (no orphaned sequence state)") {
    val t = LakeTable(spark, s"${tmpDir("ident_restore")}/t")
    t.create(schema, identityColumns = Map("id" -> (1L, 1L)))
    t.append(Seq("a").toDF("v")) // v1: id 1
    val v1 = t.currentVersion
    t.append(Seq("b").toDF("v")) // v2: id 2
    t.restore(v1)
    t.append(Seq("c").toDF("v")) // continues from the RESTORED high-water
    assert(t.read.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "c")))
  }

  test("SQL: CREATE TABLE ... GENERATED ALWAYS AS IDENTITY + INSERT " +
      "omitting the column mints ids; supplying it is refused") {
    val dir = tmpDir("ident_sql")
    spark.sql(
      "CREATE TABLE idt (id BIGINT GENERATED ALWAYS AS IDENTITY " +
        s"(START WITH 10 INCREMENT BY 2), v STRING) LOCATION '$dir/t'")
    try {
      spark.sql("INSERT INTO idt VALUES ('a'), ('b')")
      val rows = spark.sql("SELECT id, v FROM idt ORDER BY id")
        .as[(Long, String)].collect().toSeq
      assert(rows == Seq((10L, "a"), (12L, "b")))
      intercept[Exception] {
        spark.sql("INSERT INTO idt (id, v) VALUES (99, 'x')")
      }
    } finally LakeSql.unregister("idt")
  }

  test("column DEFAULT values: an omitted column in a named-column INSERT " +
      "takes its declared default; supplied values win; omitting a " +
      "no-default column stays a loud error") {
    val dir = tmpDir("default_sql")
    spark.sql(
      "CREATE TABLE dft (k BIGINT, status STRING DEFAULT 'new', " +
        s"score DOUBLE DEFAULT 0.5, note STRING) LOCATION '$dir/t'")
    try {
      spark.sql("INSERT INTO dft (k, note) VALUES (1, 'a')")
      spark.sql(
        "INSERT INTO dft (k, status, score, note) VALUES (2, 'done', 0.9, 'b')")
      val rows = spark.sql(
        "SELECT k, status, score, note FROM dft ORDER BY k")
        .as[(Long, String, Double, String)].collect().toSeq
      assert(rows == Seq((1L, "new", 0.5, "a"), (2L, "done", 0.9, "b")))
      intercept[IllegalArgumentException] {
        spark.sql("INSERT INTO dft (k) VALUES (3)") // omits `note`
      }
    } finally LakeSql.unregister("dft")
  }

  test("ALTER COLUMN SET DEFAULT / DROP DEFAULT manage defaults " +
      "metadata-only; other ALTER COLUMN forms are rejected") {
    val dir = tmpDir("default_alter")
    spark.sql(
      s"CREATE TABLE adft (k BIGINT, status STRING) LOCATION '$dir/t'")
    try {
      spark.sql("ALTER TABLE adft ALTER COLUMN status SET DEFAULT 'new'")
      spark.sql("INSERT INTO adft (k) VALUES (1)")
      spark.sql("ALTER TABLE adft ALTER COLUMN status DROP DEFAULT")
      intercept[IllegalArgumentException] {
        spark.sql("INSERT INTO adft (k) VALUES (2)") // no default now
      }
      assert(spark.sql("SELECT k, status FROM adft ORDER BY k")
        .as[(Long, String)].collect().toSeq == Seq((1L, "new")))
      intercept[IllegalArgumentException] {
        spark.sql("ALTER TABLE adft ALTER COLUMN status TYPE INT")
      }
    } finally LakeSql.unregister("adft")
  }

  test("identity and generated columns compose on one table; declaring a " +
      "column as both is refused") {
    val t = LakeTable(spark, s"${tmpDir("ident_gen")}/t")
    val s3 = StructType(schema.fields :+ StructField("v_up", StringType))
    t.create(s3, identityColumns = Map("id" -> (1L, 1L)),
      generatedColumns = Map("v_up" -> "upper(v)"))
    t.append(Seq("a").toDF("v"))
    assert(t.read.select("id", "v_up").as[(Long, String)].collect().toSeq ==
      Seq((1L, "A")))
    intercept[IllegalArgumentException] {
      LakeTable(spark, s"${tmpDir("ident_both")}/t").create(s3,
        identityColumns = Map("v_up" -> (1L, 1L)),
        generatedColumns = Map("v_up" -> "upper(v)"))
    }
  }

  test("identity assignment is exact under a nondeterministic upstream: " +
      "the batch is pinned between the counting pass and the write") {
    import org.apache.spark.sql.functions.rand
    val t = LakeTable(spark, s"${tmpDir("ident_nondet")}/t")
    t.create(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType))),
      identityColumns = Map("id" -> (1L, 1L)))
    // rand()-gated filter + repartition: recomputing the lineage between
    // the two identity jobs could change partition contents — the pinned
    // RDD guarantees the ids stay dense and unique regardless
    val df = spark.range(0, 2000).toDF("k")
      .withColumn("r", rand()).filter(org.apache.spark.sql.functions.col("r") >= 0.0)
      .drop("r").repartition(7)
    t.append(df)
    val ids = t.read.select("id").as[Long].collect().sorted
    assert(ids.length == 2000)
    assert(ids.toSeq == (1L to 2000L))
    assert(t.identityColumns == Map("id" -> (1L, 1L)))
  }
}
