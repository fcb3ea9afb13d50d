package graft.lake

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** SQL-text statement surface → LakeTable translation: Spark's parser, the
 *  engine's merge/update/insert/select — no Catalyst surgery. */
class LakeSqlSpec extends SparkSpec {
  import spark.implicits._

  /** Files the executed scans read: each `FileSourceScanExec`'s
   *  `numFiles` metric after running `df` (the index lists the whole
   *  snapshot as its input files; the metric counts what survived
   *  pruning). */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    df.collect()
    def files(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => files(a.executedPlan)
      case q: QueryStageExec => files(q.plan)
      case s: FileSourceScanExec => s.metrics("numFiles").value
      case other => (other.children ++ other.subqueries).map(files).sum
    }
    files(df.queryExecution.executedPlan)
  }

  /** Three single-file appends: ids 1..100 (a), 101..200 (b), 201..300 (c),
   *  zone stats on id. */
  private def skipTable(name: String): LakeTable = {
    val t = LakeTable(spark, s"${tmpDir(name)}/t")
    t.create(Seq((0L, "")).toDF("id", "tag").schema, statsColumns = Seq("id"))
    def batch(r: Range, tag: String) =
      r.map(i => (i.toLong, tag)).toDF("id", "tag").coalesce(1)
    t.append(batch(1 to 100, "a"))
    t.append(batch(101 to 200, "b"))
    t.append(batch(201 to 300, "c"))
    t
  }

  private def fresh(name: String): LakeTable = {
    val t = LakeTable(spark, s"${tmpDir(name)}/t")
    t.append(Seq((1L, "a", 1), (2L, "b", 1)).toDF("k", "v", "seq"))
    t
  }

  test("guarded UPDATE SET * / INSERT * upserts through SQL text") {
    val t = fresh("sql_merge")
    LakeSql.register("tgt_table", t)
    Seq((2L, "b2", 2), (3L, "c", 2), (1L, "stale", 0))
      .toDF("k", "v", "seq").createOrReplaceTempView("updates_v")
    try {
      spark.sql(
        """MERGE INTO tgt_table AS t0
           USING updates_v AS u
           ON t0.k = u.k
           WHEN MATCHED AND u.seq >= t0.seq THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""")
    } finally {
      LakeSql.unregister("tgt_table")
      spark.catalog.dropTempView("updates_v")
    }
    // k=1 guard-rejected (stale), k=2 updated, k=3 inserted
    assert(t.read.orderBy("k").as[(Long, String, Int)].collect().toSeq ==
      Seq((1L, "a", 1), (2L, "b2", 2), (3L, "c", 2)))
  }

  test("no MATCHED clause → insert-only; unaliased names and subquery sources work") {
    val t = fresh("sql_insert_only")
    LakeSql.register("tgt2", t)
    Seq((2L, "CLOBBER", 9), (4L, "d", 1)).toDF("k", "v", "seq")
      .createOrReplaceTempView("updates2")
    try {
      spark.sql(
        """MERGE INTO tgt2
           USING (SELECT * FROM updates2 WHERE seq <= 9) AS u
           ON tgt2.k = u.k
           WHEN NOT MATCHED THEN INSERT *""")
    } finally {
      LakeSql.unregister("tgt2")
      spark.catalog.dropTempView("updates2")
    }
    // matched k=2 kept its target version; only k=4 inserted
    assert(t.read.orderBy("k").as[(Long, String, Int)].collect().toSeq ==
      Seq((1L, "a", 1), (2L, "b", 1), (4L, "d", 1)))
  }

  test("unsupported statement shapes fail loudly with the clause named") {
    val t = fresh("sql_errors")
    LakeSql.register("tgt3", t)
    Seq((9L, "z", 1)).toDF("k", "v", "seq").createOrReplaceTempView("updates3")
    def bad(sql: String, needle: String): Unit = {
      val e = intercept[IllegalArgumentException](spark.sql(sql))
      assert(e.getMessage.toLowerCase.contains(needle), e.getMessage)
    }
    try {
      bad("""MERGE INTO nowhere AS t0 USING updates3 AS u ON t0.k = u.k
             WHEN NOT MATCHED THEN INSERT *""", "no lake table registered")
      bad("""MERGE INTO tgt3 AS t0 USING updates3 AS u ON t0.k >= u.k
             WHEN NOT MATCHED THEN INSERT *""", "conjunction of column equalities")
      bad("""MERGE INTO tgt3 AS t0 USING updates3 AS u ON t0.k = u.seq
             WHEN NOT MATCHED THEN INSERT *""", "differently-named")
      bad("""MERGE INTO tgt3 AS t0 USING updates3 AS u ON t0.k = u.k
             WHEN MATCHED AND u.seq > 0 THEN UPDATE SET *
             WHEN MATCHED THEN UPDATE SET *
             WHEN NOT MATCHED THEN INSERT *""", "single when matched")
      bad("""MERGE INTO tgt3 AS t0 USING updates3 AS u ON t0.k = u.k
             WHEN MATCHED THEN UPDATE SET *""", "insert *")
      bad("""MERGE INTO tgt3 AS t0 USING updates3 AS u ON t0.k = u.k
             WHEN NOT MATCHED THEN INSERT *
             WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'z'""",
        "not matched by source")
      // the table is untouched by all of the rejected statements
      assert(t.read.count() == 2)
    } finally {
      LakeSql.unregister("tgt3")
      spark.catalog.dropTempView("updates3")
    }
  }

  test("column-level WHEN MATCHED ... UPDATE SET c = expr assigns only the " +
      "named columns; CDF postimage carries the assigned row") {
    val root = tmpDir("sql_merge_set")
    val t = LakeTable(spark, s"$root/t")
    t.create(Seq((0L, "", 0)).toDF("k", "v", "seq").schema, enableChangeFeed = true)
    t.append(Seq((1L, "a", 1), (2L, "b", 5)).toDF("k", "v", "seq"))
    LakeSql.register("set_t", t)
    Seq((1L, "A1", 3), (2L, "B2", 1), (9L, "new", 1)).toDF("k", "v", "seq")
      .createOrReplaceTempView("set_updates")
    try {
      val vBefore = t.currentVersion
      spark.sql(
        """MERGE INTO set_t AS t0 USING set_updates AS u ON t0.k = u.k
           WHEN MATCHED AND u.seq >= t0.seq
             THEN UPDATE SET v = concat(u.v, '!'), seq = t0.seq + u.seq
           WHEN NOT MATCHED THEN INSERT *""")
      // k=1 matched+guard: v assigned from source expr, seq summed;
      // k=2 guard-rejected (stale): target row untouched;
      // k=9 source-only: full INSERT *
      assert(t.read.orderBy("k").as[(Long, String, Int)].collect().toSeq ==
        Seq((1L, "A1!", 4), (2L, "b", 5), (9L, "new", 1)))
      // the change feed's postimage is the ASSIGNED row, not the raw source
      val post = t.readChangeFeed(vBefore + 1)
        .filter(col("_change_type") === "update_postimage")
        .select("k", "v", "seq").as[(Long, String, Int)].collect().toSeq
      assert(post == Seq((1L, "A1!", 4)))
      // assigning a merge key is refused loudly
      val e = intercept[IllegalArgumentException](spark.sql(
        """MERGE INTO set_t AS t0 USING set_updates AS u ON t0.k = u.k
           WHEN MATCHED THEN UPDATE SET k = u.k
           WHEN NOT MATCHED THEN INSERT *"""))
      assert(e.getMessage.contains("merge key"), e.getMessage)
    } finally {
      LakeSql.unregister("set_t")
      spark.catalog.dropTempView("set_updates")
    }
  }

  test("WHEN MATCHED DELETE and NOT MATCHED BY SOURCE DELETE: guarded " +
      "removal and full table sync, with CDF delete images") {
    val root = tmpDir("sql_merge_del")
    val t = LakeTable(spark, s"$root/t")
    t.create(Seq((0L, "", 0)).toDF("k", "v", "seq").schema, enableChangeFeed = true)
    t.append(Seq((1L, "a", 1), (2L, "b", 5), (3L, "c", 2)).toDF("k", "v", "seq"))
    LakeSql.register("del_t", t)
    Seq((1L, "x", 9), (2L, "x", 1)).toDF("k", "v", "seq")
      .createOrReplaceTempView("del_updates")
    try {
      // matched+guard (seq >= target) deletes k=1; k=2 guard-rejected kept;
      // no INSERT clause → the source-only world never lands
      val v0 = t.currentVersion
      spark.sql(
        """MERGE INTO del_t AS t0 USING del_updates AS u ON t0.k = u.k
           WHEN MATCHED AND u.seq >= t0.seq THEN DELETE""")
      assert(t.read.orderBy("k").as[(Long, String, Int)].collect().toSeq ==
        Seq((2L, "b", 5), (3L, "c", 2)))
      val feed = t.readChangeFeed(v0 + 1)
      assert(feed.filter($"_change_type" === "delete")
        .select("k").as[Long].collect().toSeq == Seq(1L))
      // the sync form: rows with no source counterpart vanish (k=3),
      // matched rows update — one statement reconciles the table
      spark.sql(
        """MERGE INTO del_t AS t0 USING del_updates AS u ON t0.k = u.k
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *
           WHEN NOT MATCHED BY SOURCE THEN DELETE""")
      assert(t.read.orderBy("k").as[(Long, String, Int)].collect().toSeq ==
        Seq((1L, "x", 9), (2L, "x", 1)))
    } finally {
      LakeSql.unregister("del_t")
      spark.catalog.dropTempView("del_updates")
    }
  }

  test("delete-only merge accepts a KEYS-ONLY source (Delta-legal): dead " +
      "insert/update branches never reference absent source columns") {
    val root = tmpDir("sql_merge_del_keys")
    val t = LakeTable(spark, s"$root/t")
    t.create(Seq((0L, "", 0)).toDF("k", "v", "seq").schema, enableChangeFeed = true)
    t.append(Seq((1L, "a", 1), (2L, "b", 5), (3L, "c", 2)).toDF("k", "v", "seq"))
    // programmatic: source carries ONLY the key column
    val v0 = t.currentVersion
    t.merge(Seq(1L, 4L).toDF("k"), Seq("k"),
      matchedDelete = true, insertAll = false)
    assert(t.read.orderBy("k").as[(Long, String, Int)].collect().toSeq ==
      Seq((2L, "b", 5), (3L, "c", 2)))
    // CDF still records the delete pre-image off the same join
    assert(t.readChangeFeed(v0 + 1).filter($"_change_type" === "delete")
      .select("k").as[Long].collect().toSeq == Seq(1L))
    // SQL text form of the same shape
    LakeSql.register("delk_t", t)
    Seq(3L).toDF("k").createOrReplaceTempView("delk_keys")
    try {
      spark.sql(
        """MERGE INTO delk_t AS t0 USING delk_keys AS u ON t0.k = u.k
           WHEN MATCHED THEN DELETE""")
      assert(t.read.orderBy("k").as[(Long, String, Int)].collect().toSeq ==
        Seq((2L, "b", 5)))
    } finally {
      LakeSql.unregister("delk_t")
      spark.catalog.dropTempView("delk_keys")
    }
  }

  test("delete-only merge with a keys-only source on a PARTITIONED target " +
      "falls back to the full rewrite and keeps the partitioning") {
    val root = tmpDir("sql_merge_del_keys_part")
    val t = LakeTable(spark, s"$root/t")
    val df = Seq((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2"))
      .toDF("k", "v", "p")
    t.overwrite(df, Some("p"))
    t.merge(Seq(2L).toDF("k"), Seq("k"), matchedDelete = true, insertAll = false)
    assert(t.read.orderBy("k").as[(Long, String, String)].collect().toSeq ==
      Seq((1L, "a", "p1"), (3L, "c", "p2")))
    // partition layout survives the fallback rewrite
    assert(t.ownedPartitionValues.sorted == Seq("p1", "p2"))
  }

  test("conditional INSERT and column-level INSERT (cols) VALUES dispatch; " +
      "omitted columns land NULL") {
    val root = tmpDir("sql_merge_ins")
    val t = LakeTable(spark, s"$root/t")
    t.create(Seq((0L, "", 0)).toDF("k", "v", "seq").schema)
    t.append(Seq((1L, "a", 1)).toDF("k", "v", "seq"))
    LakeSql.register("ins_t", t)
    Seq((2L, "keep", 5), (3L, "drop", 0), (4L, "cols", 7))
      .toDF("k", "v", "seq").createOrReplaceTempView("ins_updates")
    try {
      // guard admits only seq >= 5 source-only rows
      spark.sql(
        """MERGE INTO ins_t AS t0 USING ins_updates AS u ON t0.k = u.k
           WHEN NOT MATCHED AND u.seq >= 5 THEN INSERT *""")
      assert(t.read.orderBy("k").as[(Long, String, Int)].collect().toSeq ==
        Seq((1L, "a", 1), (2L, "keep", 5), (4L, "cols", 7)))
      // column-level INSERT: v computed, seq omitted → NULL
      spark.sql("DELETE FROM ins_t WHERE k >= 2")
      spark.sql(
        """MERGE INTO ins_t AS t0 USING ins_updates AS u ON t0.k = u.k
           WHEN NOT MATCHED AND u.seq >= 5
             THEN INSERT (k, v) VALUES (u.k, concat(u.v, '?'))""")
      val rows = t.read.orderBy("k")
        .select("k", "v", "seq").collect().toSeq
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getInt(2))))
      assert(rows == Seq((1L, "a", Some(1)),
        (2L, "keep?", None), (4L, "cols?", None)))
    } finally {
      LakeSql.unregister("ins_t")
      spark.catalog.dropTempView("ins_updates")
    }
  }

  test("DELETE / UPDATE / OPTIMIZE / DESCRIBE DETAIL statements dispatch") {
    val t = fresh("sql_dml")
    LakeSql.register("dml_t", t)
    try {
      val del = spark.sql("DELETE FROM dml_t WHERE k = 1")
      assert(del.as[Long].head() == 1L)
      assert(t.read.as[(Long, String, Int)].collect().toSeq == Seq((2L, "b", 1)))
      // merge-on-read delete left a live vector; OPTIMIZE materializes it
      assert(t.deleteVectorDirs.nonEmpty)
      val opt = spark.sql("OPTIMIZE dml_t")
      assert(opt.columns.toSeq ==
        Seq("files_rewritten", "files_linked", "bytes_rewritten"))
      assert(t.deleteVectorDirs.isEmpty)
      val upd = spark.sql(
        "UPDATE dml_t SET v = concat(v, '!') WHERE k >= 2 AND k <= 9")
      assert(upd.as[Long].head() == 1L)
      assert(t.read.as[(Long, String, Int)].collect().toSeq == Seq((2L, "b!", 1)))
      val det = spark.sql("DESCRIBE DETAIL dml_t").collect().head
      assert(det.getAs[String]("last_operation") == "update")
      assert(det.getAs[Long]("num_files") >= 1L)
      // ZORDER form routes to compactZOrder
      val z = spark.sql("OPTIMIZE dml_t ZORDER BY (k)")
      assert(z.select("zorder_by").as[String].head() == "k")
      assert(t.read.as[(Long, String, Int)].collect().toSeq == Seq((2L, "b!", 1)))
    } finally LakeSql.unregister("dml_t")
  }

  test("table-qualified column references in DELETE/UPDATE bind to the snapshot") {
    val t = fresh("sql_qualified")
    LakeSql.register("q_t", t)
    try {
      // CoW update first (a live deletion vector would refuse it), MoR delete after
      assert(spark.sql(
        "UPDATE q_t SET v = upper(q_t.v) WHERE q_t.k >= 2 AND q_t.k <= 2")
        .as[Long].head() == 1L)
      assert(spark.sql("DELETE FROM q_t WHERE q_t.k = 1")
        .as[Long].head() == 1L)
      assert(t.read.as[(Long, String, Int)].collect().toSeq == Seq((2L, "B", 1)))
    } finally LakeSql.unregister("q_t")
  }

  test("VACUUM / RESTORE / DESCRIBE HISTORY statements dispatch") {
    val t = fresh("sql_lifecycle")                        // v0: append
    LakeSql.register("lc_t", t)
    try {
      t.overwrite(Seq((9L, "z", 9)).toDF("k", "v", "seq")) // v1: bad overwrite
      val hist = spark.sql("DESCRIBE HISTORY lc_t").collect()
      assert(hist.map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((0L, "append"), (1L, "overwrite")))
      val res = spark.sql("RESTORE TABLE lc_t TO VERSION AS OF 0")
      assert(res.as[(Long, Long)].head() == ((0L, 2L)))    // v2: the restore
      assert(t.read.orderBy("k").as[(Long, String, Int)].collect().toSeq ==
        Seq((1L, "a", 1), (2L, "b", 1)))
      spark.sql("VACUUM lc_t RETAIN 1 VERSIONS")
      // v1's overwrite-only data is reclaimed; the restored snapshot reads
      intercept[IllegalArgumentException](t.readVersion(1).collect())
      assert(t.read.count() == 2)
    } finally LakeSql.unregister("lc_t")
  }

  test("ALTER TABLE ADD CONSTRAINT parses through Spark and enforces on write") {
    val t = fresh("sql_constraint")
    LakeSql.register("con_t", t)
    try {
      val res = spark.sql(
        "ALTER TABLE con_t ADD CONSTRAINT positive_seq CHECK (seq > 0)")
      assert(res.as[(String, String)].head() == (("positive_seq", "seq > 0")))
      assert(t.checkConstraints.contains("positive_seq"))
      // the constraint is live: a violating append is rejected atomically
      assert(scala.util.Try(
        t.append(Seq((5L, "bad", -1)).toDF("k", "v", "seq"))).isFailure)
      assert(t.read.count() == 2)
      t.append(Seq((5L, "ok", 3)).toDF("k", "v", "seq"))
      assert(t.read.count() == 3)
    } finally LakeSql.unregister("con_t")
  }

  test("DML statement shapes outside the contract fail loudly") {
    val t = fresh("sql_dml_errors")
    LakeSql.register("dml_e", t)
    def bad(sql: String, needle: String): Unit = {
      val e = intercept[IllegalArgumentException](spark.sql(sql))
      assert(e.getMessage.toLowerCase.contains(needle), e.getMessage)
    }
    try {
      bad("DELETE FROM nowhere WHERE k = 1", "no lake table registered")
      bad("UPDATE dml_e SET v = 'x'", "without where")
      bad("OPTIMIZE dml_e ZORDER BY ( )", "names no columns")
      // OPTIMIZE WHERE scopes by partition — meaningless on an
      // unpartitioned table, whatever the condition's shape
      bad("OPTIMIZE dml_e WHERE k = 1", "partitioned table")
      bad("OPTIMIZE dml_e WHERE k > 1", "partitioned table")
      // a statement referencing no registered lake relation is Spark's
      assert(spark.sql("SELECT 1 AS one").as[Int].head() == 1)
      // identical target/source aliases cannot disambiguate guard refs
      Seq((9L, "z", 1)).toDF("k", "v", "seq").createOrReplaceTempView("dml_u")
      bad("""MERGE INTO dml_e AS x USING dml_u AS x ON x.k = x.k
             WHEN NOT MATCHED THEN INSERT *""", "aliases must differ")
      spark.catalog.dropTempView("dml_u")
      assert(t.read.count() == 2) // nothing mutated by rejected statements
    } finally LakeSql.unregister("dml_e")
  }

  test("SQL SELECT reads the live snapshot — DVs filtered, schema evolved, never stale") {
    val t = fresh("sql_select")
    LakeSql.register("sel_t", t)
    try {
      assert(spark.sql("SELECT k, v FROM sel_t ORDER BY k")
        .as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b")))
      // merge-on-read delete leaves a LIVE deletion vector — a naive
      // spark.read.parquet of the table dir would still see k=1; the SQL
      // read path must not
      t.deleteWhere("k = 1")
      assert(t.deleteVectorDirs.nonEmpty)
      assert(spark.sql("SELECT count(*) AS n FROM sel_t")
        .as[Long].head() == 1L)
      // additive schema evolution: pre-evolution rows serve NULL
      t.append(Seq((3L, "c", 2, 9.5)).toDF("k", "v", "seq", "score"),
        mergeSchema = true)
      assert(spark.sql("SELECT k, score FROM sel_t ORDER BY k")
        .as[(Long, Option[Double])].collect().toSeq ==
        Seq((2L, None), (3L, Some(9.5))))
      // no registered-view staleness: a commit between two SELECTs is
      // visible to the second without any re-registration
      t.append(Seq((4L, "d", 2, 1.0)).toDF("k", "v", "seq", "score"))
      assert(spark.sql("SELECT count(*) AS n FROM sel_t")
        .as[Long].head() == 3L)
      // lake relations compose with temp views and aggregation
      Seq((2L, "even"), (3L, "odd")).toDF("k", "parity")
        .createOrReplaceTempView("parity_v")
      val joined = spark.sql(
        """SELECT p.parity, count(*) AS n, sum(s.seq) AS seq_sum
           FROM sel_t s JOIN parity_v p ON s.k = p.k
           GROUP BY p.parity ORDER BY p.parity""")
      assert(joined.as[(String, Long, Long)].collect().toSeq ==
        Seq(("even", 1L, 1L), ("odd", 1L, 2L)))
      spark.catalog.dropTempView("parity_v")
    } finally LakeSql.unregister("sel_t")
  }

  test("SELECT ... VERSION / TIMESTAMP AS OF text time-travels the relation") {
    val t0 = java.time.Instant.parse("2030-01-01T00:00:00Z").toEpochMilli
    val tick = new java.util.concurrent.atomic.AtomicLong(0L)
    val t = LakeTable.withClock(spark, s"${tmpDir("sql_tt")}/t",
      () => t0 + 1000L * tick.getAndIncrement())
    t.append(Seq((1L, "a")).toDF("k", "v"))            // v0 @ t0
    t.append(Seq((2L, "b")).toDF("k", "v"))            // v1 @ t0+1s
    t.overwrite(Seq((9L, "z")).toDF("k", "v"))         // v2 @ t0+2s
    LakeSql.register("tt_t", t)
    try {
      assert(spark.sql(
        "SELECT k FROM tt_t VERSION AS OF 1 ORDER BY k")
        .as[Long].collect().toSeq == Seq(1L, 2L))
      // Delta's rule: a timestamp BETWEEN commits resolves to the earlier
      // one — t0+1.5s is after v1, before v2
      assert(spark.sql(
        "SELECT k FROM tt_t TIMESTAMP AS OF '2030-01-01 00:00:01.500' ORDER BY k")
        .as[Long].collect().toSeq == Seq(1L, 2L))
      // current and time-travelled snapshots compose in ONE statement
      assert(spark.sql(
        """SELECT (SELECT count(*) FROM tt_t) AS now_n,
                  (SELECT count(*) FROM tt_t VERSION AS OF 1) AS then_n""")
        .as[(Long, Long)].head() == ((1L, 2L)))
      val e = intercept[IllegalArgumentException](spark.sql(
        "SELECT * FROM tt_t VERSION AS OF 99"))
      assert(e.getMessage.contains("99"), e.getMessage)
    } finally LakeSql.unregister("tt_t")
  }

  test("INSERT INTO appends; column lists reorder; OVERWRITE replaces; constraints hold") {
    val t = fresh("sql_ins")
    LakeSql.register("ins_t", t)
    try {
      val r = spark.sql("INSERT INTO ins_t VALUES (3, 'c', 2)")
      assert(r.as[(String, Long)].head() == (("ins_t", 1L)))
      // a column list binds by NAME, any order; literals cast to the
      // declared column types (VALUES integers arrive narrower than LONG)
      spark.sql("INSERT INTO ins_t (seq, v, k) VALUES (3, 'd', 4)")
      assert(t.read.orderBy("k").as[(Long, String, Int)].collect().toSeq ==
        Seq((1L, "a", 1), (2L, "b", 1), (3L, "c", 2), (4L, "d", 3)))
      // INSERT runs through the same constraint gate as the API
      t.addCheckConstraint("seq_positive", "seq > 0")
      assert(scala.util.Try(spark.sql(
        "INSERT INTO ins_t VALUES (5, 'bad', -1)")).isFailure)
      assert(t.read.count() == 4) // rejected atomically — nothing landed
      // INSERT ... SELECT over another registered lake relation
      spark.sql(
        "INSERT INTO ins_t SELECT k + 10, upper(v), seq FROM ins_t WHERE k <= 2")
      assert(t.read.count() == 6)
      spark.sql("INSERT OVERWRITE ins_t VALUES (9, 'z', 1)")
      assert(t.read.as[(Long, String, Int)].collect().toSeq == Seq((9L, "z", 1)))
      val e = intercept[IllegalArgumentException](spark.sql(
        "INSERT INTO ins_t VALUES (1, 'x')"))
      assert(e.getMessage.contains("arity"), e.getMessage)
    } finally LakeSql.unregister("ins_t")
  }

  test("INSERT INTO computes omitted generated columns and validates supplied ones") {
    val root = tmpDir("sql_ins_gen")
    val df = Seq((1L, 10.0, 20.0)).toDF("k", "price", "total")
    val t = LakeTable(spark, s"$root/t")
    t.create(df.schema, generatedColumns = Map("total" -> "price * 2"))
    LakeSql.register("gen_t", t)
    try {
      // positional arity = schema minus generated columns → computed
      spark.sql("INSERT INTO gen_t VALUES (1, 10.0)")
      // full arity with a CORRECT generated value → validated, accepted
      spark.sql("INSERT INTO gen_t VALUES (2, 3.0, 6.0)")
      assert(t.read.orderBy("k").as[(Long, Double, Double)].collect().toSeq ==
        Seq((1L, 10.0, 20.0), (2L, 3.0, 6.0)))
      // a WRONG supplied generated value fails before anything lands
      assert(scala.util.Try(spark.sql(
        "INSERT INTO gen_t VALUES (3, 5.0, 11.0)")).isFailure)
      assert(t.read.count() == 2)
    } finally LakeSql.unregister("gen_t")
  }

  test("UPDATE with a non-zone predicate takes the MoR path and emits CDF images") {
    val root = tmpDir("sql_upd_mor")
    val df = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("k", "v", "seq")
    val t = LakeTable(spark, s"$root/t")
    t.create(df.schema, enableChangeFeed = true)
    t.append(df)
    LakeSql.register("mor_t", t)
    try {
      // strict inequality + modulo: not a range bound → merge-on-read
      val n = spark.sql(
        "UPDATE mor_t SET seq = seq + 100 WHERE k > 1 AND k % 2 = 1")
        .as[Long].head()
      assert(n == 1L)
      assert(t.deleteVectorDirs.nonEmpty) // old image DV'd, not rewritten
      assert(t.read.orderBy("k").as[(Long, String, Int)].collect().toSeq ==
        Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 130)))
      val ch = t.readChangeFeed(t.currentVersion)
        .select("k", "seq", "_change_type").orderBy("_change_type")
        .as[(Long, Int, String)].collect().toSeq
      assert(ch == Seq((3L, 130, "update_postimage"), (3L, 30, "update_preimage")))
      // with a live DV even a range-bound UPDATE routes MoR (the CoW
      // path cannot see vectors) — it must still apply exactly once
      assert(spark.sql(
        "UPDATE mor_t SET v = 'B' WHERE k = 2").as[Long].head() == 1L)
      assert(t.read.orderBy("k").as[(Long, String, Int)].collect().toSeq ==
        Seq((1L, "a", 10), (2L, "B", 20), (3L, "c", 130)))
      // no match → version unchanged, 0 rows
      val v = t.currentVersion
      assert(spark.sql(
        "UPDATE mor_t SET v = 'x' WHERE k = 99").as[Long].head() == 0L)
      assert(t.currentVersion == v)
    } finally LakeSql.unregister("mor_t")
  }

  test("OPTIMIZE ... WHERE dispatches partition-scoped maintenance") {
    val root = tmpDir("sql_opt_scope")
    val df = Seq((1L, "x", "a")).toDF("k", "v", "pt")
    val t = LakeTable(spark, s"$root/t")
    t.create(df.schema, partitionBy = Some("pt"), statsColumns = Seq("k"))
    (1 to 3).foreach { i =>
      t.append(Seq((i.toLong, s"a$i", "a")).toDF("k", "v", "pt"))
      t.append(Seq((i.toLong + 10, s"b$i", "b")).toDF("k", "v", "pt"))
    }
    LakeSql.register("opt_t", t)
    try {
      val r = spark.sql("OPTIMIZE opt_t WHERE pt = 'a'").collect().head
      assert(r.getAs[Int]("files_rewritten") >= 1)
      assert(r.getAs[Int]("files_untouched") >= 3)  // pt=b files untouched
      assert(t.read.count() == 6)
      // scoped Z-order form parses too
      val z = spark.sql(
        "OPTIMIZE opt_t WHERE pt = 'b' ZORDER BY (k)").collect().head
      assert(z.getAs[Int]("files_rewritten") >= 1)
      assert(t.read.orderBy("k").as[(Long, String, String)].collect().map(_._1).toSeq ==
        Seq(1L, 2L, 3L, 11L, 12L, 13L))
      // any condition over the partition column alone scopes (Delta's
      // rule): pt > 'a' leaves pt=a's one packed file untouched
      val gt = spark.sql("OPTIMIZE opt_t WHERE pt > 'a'").collect().head
      assert(gt.getAs[Int]("files_untouched") == 1, gt)
      // a condition naming another column is refused
      val e = intercept[IllegalArgumentException](
        spark.sql("OPTIMIZE opt_t WHERE pt = 'a' OR k > 1"))
      assert(e.getMessage.contains("partition column pt, got k"), e.getMessage)
      assert(t.read.count() == 6)
    } finally LakeSql.unregister("opt_t")
  }

  test("VACUUM RETAIN n HOURS reclaims by commit age under the safety floor") {
    val t0 = java.time.Instant.parse("2030-01-01T00:00:00Z").toEpochMilli
    val now = new java.util.concurrent.atomic.AtomicLong(t0)
    val t = LakeTable.withClock(spark, s"${tmpDir("sql_vac_hours")}/t",
      () => now.get())
    t.append(Seq((1L, "a")).toDF("k", "v"))            // v0 @ t0
    t.overwrite(Seq((2L, "b")).toDF("k", "v"))         // v1 @ t0
    LakeSql.register("vac_t", t)
    try {
      // below the 168h floor → refused (SQL text cannot pass force=true)
      val e = intercept[IllegalArgumentException](
        spark.sql("VACUUM vac_t RETAIN 1 HOURS"))
      assert(e.getMessage.contains("safety"), e.getMessage)
      assert(t.readVersion(0).count() == 1) // nothing reclaimed
      // 200h later, RETAIN 168 HOURS reclaims v0's overwritten data
      now.set(t0 + 200L * 3600 * 1000)
      spark.sql("VACUUM vac_t RETAIN 168 HOURS")
      intercept[IllegalArgumentException](t.readVersion(0).collect())
      assert(t.read.as[(Long, String)].head() == ((2L, "b")))
    } finally LakeSql.unregister("vac_t")
  }

  test("table_changes('t', from[, to]) reads the change feed through SQL text") {
    val root = tmpDir("sql_tvf_cdf")
    val df = Seq((1L, "a")).toDF("k", "v")
    val t = LakeTable(spark, s"$root/t")
    t.create(df.schema, enableChangeFeed = true)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))       // v1: 2 inserts
    t.merge(Seq((2L, "B2"), (3L, "c")).toDF("k", "v"), Seq("k")) // v2: upd+ins
    LakeSql.register("cdf_t", t)
    try {
      // whole-range read ≡ the programmatic API
      val sql = spark.sql(
        "SELECT k, v, _change_type, _commit_version FROM table_changes('cdf_t', 1) " +
          "ORDER BY _commit_version, k, _change_type")
        .as[(Long, String, String, Long)].collect().toSeq
      val api = t.readChangeFeed(1)
        .select("k", "v", "_change_type", "_commit_version")
        .orderBy("_commit_version", "k", "_change_type")
        .as[(Long, String, String, Long)].collect().toSeq
      assert(sql == api && sql.nonEmpty)
      // bounded range + aggregation over the TVF
      assert(spark.sql(
        "SELECT count(*) AS n FROM table_changes('cdf_t', 2, 2) " +
          "WHERE _change_type LIKE 'update_%'").as[Long].head() == 2L)
      // a start timestamp after the last commit fails loudly, as does junk
      val e = intercept[IllegalArgumentException](spark.sql(
        "SELECT * FROM table_changes('cdf_t', '2099-01-01')"))
      assert(e.getMessage.contains("after the last commit"), e.getMessage)
      val e2 = intercept[IllegalArgumentException](spark.sql(
        "SELECT * FROM table_changes('cdf_t', 'not-a-bound')"))
      assert(e2.getMessage.contains("integer version or a timestamp"), e2.getMessage)
      // an unregistered name is not ours → no silent empty result
      intercept[Exception](spark.sql(
        "SELECT * FROM table_changes('nowhere', 1)").collect())
    } finally LakeSql.unregister("cdf_t")
  }

  test("table_changes timestamp bounds: start = first commit at-or-after, " +
      "end = last commit at-or-before (DESCRIBE HISTORY's clock)") {
    val t0 = java.time.Instant.parse("2030-01-01T00:00:00Z").toEpochMilli
    val tick = new java.util.concurrent.atomic.AtomicLong(0L)
    val t = LakeTable.withClock(spark, s"${tmpDir("sql_tvf_ts")}/t",
      () => t0 + 60000L * tick.getAndIncrement())
    t.create(Seq((1L, "a")).toDF("k", "v").schema, enableChangeFeed = true) // v0 @ 00:00
    t.append(Seq((1L, "a")).toDF("k", "v"))                                 // v1 @ 00:01
    t.append(Seq((2L, "b")).toDF("k", "v"))                                 // v2 @ 00:02
    t.append(Seq((3L, "c")).toDF("k", "v"))                                 // v3 @ 00:03
    LakeSql.register("ts_cdf_t", t)
    try {
      // start between v1 and v2 → feed begins at v2
      val got = spark.sql(
        "SELECT k, _commit_version FROM " +
          "table_changes('ts_cdf_t', '2030-01-01 00:01:30') ORDER BY k")
        .as[(Long, Long)].collect().toSeq
      assert(got == Seq((2L, 2L), (3L, 3L)))
      // both bounds as timestamps: [at-or-after 00:01, at-or-before 00:02:30]
      val ranged = spark.sql(
        "SELECT k FROM table_changes('ts_cdf_t', " +
          "'2030-01-01 00:00:30', '2030-01-01 00:02:30') ORDER BY k")
        .as[Long].collect().toSeq
      assert(ranged == Seq(1L, 2L))
      // mixed bound kinds compose
      assert(spark.sql(
        "SELECT count(*) AS n FROM table_changes('ts_cdf_t', 1, " +
          "'2030-01-01 00:02:00')").as[Long].head() == 2L)
    } finally LakeSql.unregister("ts_cdf_t")
  }

  test("RESTORE TABLE ... TO TIMESTAMP AS OF resolves by the read-path rule") {
    val t0 = java.time.Instant.parse("2030-01-01T00:00:00Z").toEpochMilli
    val tick = new java.util.concurrent.atomic.AtomicLong(0L)
    val t = LakeTable.withClock(spark, s"${tmpDir("sql_restore_ts")}/t",
      () => t0 + 1000L * tick.getAndIncrement())
    t.append(Seq((1L, "a")).toDF("k", "v"))            // v0 @ t0
    t.append(Seq((2L, "b")).toDF("k", "v"))            // v1 @ t0+1s
    t.overwrite(Seq((9L, "z")).toDF("k", "v"))         // v2 @ t0+2s: bad
    LakeSql.register("rts_t", t)
    try {
      // t0+1.5s is between v1 and v2 → restores v1 (the earlier commit)
      val r = spark.sql(
        "RESTORE TABLE rts_t TO TIMESTAMP AS OF '2030-01-01 00:00:01.500'")
      assert(r.as[(Long, Long)].head() == ((1L, 3L)))
      assert(t.read.orderBy("k").as[(Long, String)].collect().toSeq ==
        Seq((1L, "a"), (2L, "b")))
    } finally LakeSql.unregister("rts_t")
  }

  test("VACUUM ... DRY RUN lists exactly what the real pass reclaims, deletes nothing") {
    val t = fresh("sql_vac_dry")                         // v0: append
    t.overwrite(Seq((9L, "z", 9)).toDF("k", "v", "seq")) // v1: orphans v0 soon
    t.overwrite(Seq((8L, "y", 8)).toDF("k", "v", "seq")) // v2: orphans v1 soon
    LakeSql.register("dry_t", t)
    try {
      val would = spark.sql("VACUUM dry_t RETAIN 1 VERSIONS DRY RUN")
        .as[String].collect().toSeq
      assert(would.nonEmpty && would.forall(_.startsWith("data/")), would.toString)
      // dry run deleted nothing: every old version still reads
      assert(t.readVersion(0).count() == 2 && t.readVersion(1).count() == 1)
      // the real pass reclaims EXACTLY the listed dirs
      spark.sql("VACUUM dry_t RETAIN 1 VERSIONS")
      would.foreach { d =>
        assert(!java.nio.file.Files.exists(
          java.nio.file.Paths.get(t.root, d)), s"$d not reclaimed")
      }
      assert(t.read.count() == 1)
    } finally LakeSql.unregister("dry_t")
  }

  test("INSERT ... REPLACE WHERE atomically swaps the matching region (MoR path)") {
    val root = tmpDir("sql_replace")
    val df = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("k", "v", "seq")
    val t = LakeTable(spark, s"$root/t")
    t.create(df.schema, enableChangeFeed = true)
    t.append(df)
    LakeSql.register("rep_t", t)
    try {
      // k > 1: not range bounds on the partition → merge-on-read
      val n = spark.sql(
        "INSERT INTO rep_t REPLACE WHERE k > 1 VALUES (5, 'e', 50), (6, 'f', 60)")
        .as[Long].head()
      assert(n == 2L) // k=2,3 replaced
      assert(t.deleteVectorDirs.nonEmpty)
      assert(t.read.orderBy("k").as[(Long, String, Int)].collect().toSeq ==
        Seq((1L, "a", 10), (5L, "e", 50), (6L, "f", 60)))
      // ONE commit: delete + insert images share a version
      val ch = t.readChangeFeed(t.currentVersion)
        .groupBy("_change_type").count().as[(String, Long)].collect().toMap
      assert(ch == Map("delete" -> 2L, "insert" -> 2L))
      // contract: an incoming row OUTSIDE the predicate region is rejected
      // atomically (k=0 fails k > 5)
      val v = t.currentVersion
      assert(scala.util.Try(spark.sql(
        "INSERT INTO rep_t REPLACE WHERE k > 5 VALUES (0, 'x', 0)")).isFailure)
      assert(t.currentVersion == v && t.read.count() == 3)
    } finally LakeSql.unregister("rep_t")
  }

  test("REPLACE WHERE on the partition column is a zero-scan ownership transfer") {
    val root = tmpDir("sql_replace_part")
    val df = Seq((1L, "x", "a")).toDF("k", "v", "pt")
    val t = LakeTable(spark, s"$root/t")
    t.create(df.schema, partitionBy = Some("pt"), statsColumns = Seq("k"))
    t.append(Seq((1L, "a1", "a"), (2L, "a2", "a")).toDF("k", "v", "pt"))
    t.append(Seq((11L, "b1", "b"), (12L, "b2", "b")).toDF("k", "v", "pt"))
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    def files(sub: String): Map[String, Object] =
      Files.walk(Paths.get(s"$root/t")).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") && p.toString.contains(sub))
        .map(p => p.toString -> Files.getAttribute(p, "fileKey")).toMap
    val bBefore = files("pt=b")
    LakeSql.register("rpp_t", t)
    try {
      spark.sql(
        "INSERT INTO rpp_t REPLACE WHERE pt = 'a' VALUES (3, 'a3', 'a')")
      // pt=a fully replaced, pt=b untouched — same paths, same inodes
      assert(t.read.orderBy("k").as[(Long, String, String)].collect().toSeq ==
        Seq((3L, "a3", "a"), (11L, "b1", "b"), (12L, "b2", "b")))
      val bAfter = files("pt=b")
      bBefore.foreach { case (p, key) =>
        assert(bAfter.get(p).contains(key), s"$p was touched") }
      assert(t.history.last._2 == "replace")
      // contract: a row OUTSIDE the replaced partition is rejected
      assert(scala.util.Try(spark.sql(
        "INSERT INTO rpp_t REPLACE WHERE pt = 'a' VALUES (9, 'zz', 'b')")).isFailure)
      assert(t.read.count() == 3)
      // the column rule is overwritePartitions' own: `PT` resolves to pt
      // (case-insensitive analysis), so it takes the zero-scan path too
      assert(spark.sql("INSERT INTO rpp_t REPLACE WHERE PT = 'a' " +
        "VALUES (4, 'a4', 'a')").as[Long].head() == -1L)
      assert(t.read.filter("pt = 'a'").select("k").as[Long].collect().toSeq == Seq(4L))
    } finally LakeSql.unregister("rpp_t")
  }

  test("TIMESTAMP literals scope UPDATE, REPLACE WHERE and OPTIMIZE WHERE " +
      "exactly under a non-UTC session zone") {
    val zoneKey = "spark.sql.session.timeZone"
    spark.conf.set(zoneKey, "America/Los_Angeles")
    try {
      def ts(hour: Int) = expr(s"TIMESTAMP '2024-01-01 0$hour:00:00'")
      // UPDATE: the bounds shape takes the copy-on-write path
      val u = LakeTable(spark, s"${tmpDir("sql_ts_update")}/t")
      val rows = (0 to 2).map(h => (h.toLong, h)).toDF("id", "h")
        .withColumn("ts", expr("TIMESTAMP '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, h)"))
        .select(col("id"), col("ts"), lit("o").as("v"))
      u.create(rows.schema, statsColumns = Seq("ts"))
      u.append(rows.coalesce(1))
      LakeSql.register("ts_u", u)
      try {
        def changed = u.read.filter("v = 'x'").select("id").as[Long].collect().toSet
        assert(spark.sql("UPDATE ts_u SET v = 'x' WHERE ts = " +
          "TIMESTAMP '2024-01-01 01:00:00'").as[Long].head() == 1L)
        assert(changed == Set(1L))
        assert(spark.sql("UPDATE ts_u SET v = 'x' WHERE ts >= " +
          "TIMESTAMP '2024-01-01 01:00:00'").as[Long].head() == 2L)
        assert(changed == Set(1L, 2L))
      } finally LakeSql.unregister("ts_u")
      // REPLACE WHERE / OPTIMIZE WHERE over a TIMESTAMP partition column:
      // three hourly partitions, two files each
      val p = LakeTable(spark, s"${tmpDir("sql_ts_part")}/t")
      def hourRows(h: Int, k: Long) =
        Seq((k, h)).toDF("k", "h").select(col("k"), ts(h).as("pts"))
      p.create(hourRows(0, 0L).schema, partitionBy = Some("pts"))
      for (h <- 0 to 2; i <- 0 to 1) p.append(hourRows(h, h * 10L + i))
      LakeSql.register("ts_p", p)
      try {
        spark.sql("INSERT INTO ts_p REPLACE WHERE pts = " +
          "TIMESTAMP '2024-01-01 01:00:00' " +
          "SELECT 99L AS k, TIMESTAMP '2024-01-01 01:00:00' AS pts")
        assert(p.read.select("k").as[Long].collect().toSet == Set(0L, 1L, 99L, 20L, 21L))
        p.append(hourRows(1, 98L))
        // pts >= 01:00 scopes the 01:00 and 02:00 partitions (two files
        // each) and leaves 00:00's two files untouched
        val r = spark.sql("OPTIMIZE ts_p WHERE pts >= " +
          "TIMESTAMP '2024-01-01 01:00:00'").collect().head
        assert(r.getAs[Int]("files_rewritten") == 2)
        assert(r.getAs[Int]("files_untouched") == 2)
        assert(p.read.select("k").as[Long].collect().toSet ==
          Set(0L, 1L, 98L, 99L, 20L, 21L))
      } finally LakeSql.unregister("ts_p")
    } finally spark.conf.set(zoneKey, "UTC")
  }

  test("CREATE TABLE / CTAS stand up a lake table purely in SQL; SHOW PARTITIONS lists it") {
    val root = tmpDir("sql_create")
    try {
      // empty CREATE with a declared schema + partition column
      val r = spark.sql(
        s"CREATE TABLE cr_t (k BIGINT, v STRING, pt STRING) " +
          s"PARTITIONED BY (pt) LOCATION '$root/t'")
      assert(r.as[(String, Long)].head() == (("cr_t", 0L)))
      // the created table is registered: INSERT and SELECT dispatch by name
      spark.sql("INSERT INTO cr_t VALUES (1, 'a', 'p0'), (2, 'b', 'p1')")
      assert(spark.sql("SELECT count(*) AS n FROM cr_t")
        .as[Long].head() == 2L)
      assert(spark.sql("SHOW PARTITIONS cr_t")
        .as[String].collect().sorted.toSeq == Seq("pt=p0", "pt=p1"))
      // IF NOT EXISTS over an existing table: no-op, no error
      spark.sql(s"CREATE TABLE IF NOT EXISTS cr_t (x INT) LOCATION '$root/t'")
      assert(spark.sql("SELECT count(*) AS n FROM cr_t").as[Long].head() == 2L)
      intercept[IllegalArgumentException](spark.sql(
        s"CREATE TABLE cr_t (x INT) LOCATION '$root/t'"))
      // CTAS from another registered lake table
      val r2 = spark.sql(
        s"CREATE TABLE cr_t2 LOCATION '$root/t2' AS SELECT k, v FROM cr_t WHERE k = 1")
      assert(r2.as[(String, Long)].head()._1 == "cr_t2")
      assert(spark.sql("SELECT k, v FROM cr_t2")
        .as[(Long, String)].head() == ((1L, "a")))
      // LOCATION is mandatory — the engine is path-addressed
      val e = intercept[IllegalArgumentException](spark.sql(
        "CREATE TABLE cr_t3 (x INT)"))
      assert(e.getMessage.contains("LOCATION"), e.getMessage)
      // SHOW PARTITIONS on an unpartitioned table fails loudly
      intercept[IllegalArgumentException](
        spark.sql("SHOW PARTITIONS cr_t2"))
    } finally {
      LakeSql.unregister("cr_t"); LakeSql.unregister("cr_t2")
    }
  }

  test("MERGE WITH SCHEMA EVOLUTION widens the table; old rows serve NULL") {
    val t = fresh("sql_merge_evolve")
    LakeSql.register("ev_t", t)
    Seq((2L, "b2", 2, "web"), (3L, "c", 1, "app"))
      .toDF("k", "v", "seq", "channel").createOrReplaceTempView("ev_updates")
    try {
      // without evolution the additive column is a loud error
      val e = intercept[IllegalArgumentException](spark.sql(
        """MERGE INTO ev_t AS t0 USING ev_updates AS u ON t0.k = u.k
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *"""))
      assert(e.getMessage.contains("mergeSchema"), e.getMessage)
      spark.sql(
        """MERGE WITH SCHEMA EVOLUTION INTO ev_t AS t0
           USING ev_updates AS u ON t0.k = u.k
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""")
      // k=1 untouched (NULL channel), k=2 updated, k=3 inserted
      assert(t.read.orderBy("k").as[(Long, String, Int, Option[String])]
        .collect().toSeq == Seq((1L, "a", 1, None), (2L, "b2", 2, Some("web")),
          (3L, "c", 1, Some("app"))))
      assert(t.schema.fieldNames.toSeq == Seq("k", "v", "seq", "channel"))
      // a type CHANGE is still rejected under evolution
      Seq((9L, 1.5)).toDF("k", "seq").createOrReplaceTempView("ev_bad")
      assert(scala.util.Try(t.merge(
        Seq((9L, "z", 1.5, "x")).toDF("k", "v", "seq", "channel"),
        Seq("k"), mergeSchema = true)).isFailure)
    } finally {
      LakeSql.unregister("ev_t")
      spark.catalog.dropTempView("ev_updates")
      spark.catalog.dropTempView("ev_bad")
    }
  }

  test("ALTER TABLE DROP COLUMN is metadata-only; tombstones block resurrection") {
    val root = tmpDir("sql_drop_col")
    val df = Seq((1L, "a", 9.5), (2L, "b", 3.0)).toDF("k", "v", "score")
    val t = LakeTable(spark, s"$root/t")
    t.create(df.schema, statsColumns = Seq("score"))
    t.append(df)
    LakeSql.register("drop_t", t)
    try {
      import java.nio.file.{Files, Paths}
      import scala.jdk.CollectionConverters._
      val bytesBefore = Files.walk(Paths.get(s"$root/t", "data"))
        .iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      spark.sql("ALTER TABLE drop_t DROP COLUMN score")
      // reads project the column away; NO data file changed (metadata-only)
      assert(t.schema.fieldNames.toSeq == Seq("k", "v"))
      assert(t.read.orderBy("k").as[(Long, String)].collect().toSeq ==
        Seq((1L, "a"), (2L, "b")))
      val bytesAfter = Files.walk(Paths.get(s"$root/t", "data"))
        .iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      assert(bytesAfter == bytesBefore, "drop rewrote data files")
      // time travel to the pre-drop version still serves the column
      assert(t.readVersion(t.currentVersion - 1).schema.fieldNames.contains("score"))
      // TOMBSTONE: re-adding the name via evolution would resurrect the old
      // bytes — rejected loudly
      val e = intercept[IllegalArgumentException](t.append(
        Seq((3L, "c", 1.0)).toDF("k", "v", "score"), mergeSchema = true))
      assert(e.getMessage.contains("resurrect"), e.getMessage)
      // a full rewrite sheds the bytes and clears the tombstone
      t.overwrite(t.read)
      t.append(Seq((3L, "c", 1.0)).toDF("k", "v", "score"), mergeSchema = true)
      assert(t.read.count() == 3)
      // guarded shapes
      intercept[IllegalArgumentException](t.dropColumn("nope"))
      spark.sql("ALTER TABLE drop_t DROP COLUMN IF EXISTS nope") // no-op
      t.addCheckConstraint("v_nonempty", "length(v) > 0")
      val e2 = intercept[IllegalArgumentException](t.dropColumn("v"))
      assert(e2.getMessage.contains("constraint"), e2.getMessage)
    } finally LakeSql.unregister("drop_t")
  }

  test("ALTER TABLE ADD COLUMNS is metadata-only; old files serve NULL") {
    val root = tmpDir("sql_add_col")
    val t = LakeTable(spark, s"$root/t")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    LakeSql.register("add_t", t)
    try {
      import java.nio.file.{Files, Paths}
      import scala.jdk.CollectionConverters._
      val bytesBefore = Files.walk(Paths.get(s"$root/t", "data"))
        .iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      spark.sql(
        "ALTER TABLE add_t ADD COLUMNS (score DOUBLE, channel STRING)")
      assert(t.schema.fieldNames.toSeq == Seq("k", "v", "score", "channel"))
      // pre-alter files serve NULL for the new columns; nothing rewritten
      assert(t.read.orderBy("k")
        .as[(Long, String, Option[Double], Option[String])].collect().toSeq ==
        Seq((1L, "a", None, None), (2L, "b", None, None)))
      val bytesAfter = Files.walk(Paths.get(s"$root/t", "data"))
        .iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      assert(bytesAfter == bytesBefore, "add rewrote data files")
      // post-alter appends carry values; the mixed read unions correctly
      t.append(Seq((3L, "c", 1.5, "web")).toDF("k", "v", "score", "channel"))
      assert(t.read.orderBy("k")
        .as[(Long, String, Option[Double], Option[String])].collect().toSeq ==
        Seq((1L, "a", None, None), (2L, "b", None, None),
          (3L, "c", Some(1.5), Some("web"))))
      // time travel to the pre-alter version has the narrow schema
      assert(!t.readVersion(t.currentVersion - 2).schema.fieldNames
        .contains("score"))
      // guards: duplicate of an existing name; tombstoned name
      val e = intercept[IllegalArgumentException](
        spark.sql("ALTER TABLE add_t ADD COLUMNS (v INT)"))
      assert(e.getMessage.contains("already exists"), e.getMessage)
      t.dropColumn("channel")
      val e2 = intercept[IllegalArgumentException](
        spark.sql("ALTER TABLE add_t ADD COLUMNS (channel STRING)"))
      assert(e2.getMessage.contains("resurrect"), e2.getMessage)
    } finally LakeSql.unregister("add_t")
  }

  test("CREATE TABLE ... TBLPROPERTIES applies properties at creation; " +
      "enableChangeFeed makes the very first merge feed-readable") {
    val root = tmpDir("sql_create_props")
    try {
      spark.sql(
        s"""CREATE TABLE cp_t (id BIGINT, v DOUBLE) LOCATION '$root/t'
            TBLPROPERTIES ('enableChangeFeed' = 'true', 'tier' = 'bronze')""")
      val t = spark.sql("SELECT * FROM cp_t") // resolves registration
      assert(t.count() == 0)
      spark.sql(s"INSERT INTO cp_t VALUES (1, 1.0)")
      Seq((1L, 2.0)).toDF("id", "v").createOrReplaceTempView("cp_updates")
      spark.sql(
        """MERGE INTO cp_t AS t0 USING cp_updates AS u ON t0.id = u.id
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""")
      val shown = spark.sql("SHOW TBLPROPERTIES cp_t")
        .as[(String, String)].collect().toMap
      assert(shown == Map("enableChangeFeed" -> "true", "tier" -> "bronze"))
      val feed = spark.sql(
        "SELECT * FROM table_changes('cp_t', 0)")
      assert(feed.filter($"_change_type" === "update_postimage").count() == 1)
    } finally {
      LakeSql.unregister("cp_t")
      spark.catalog.dropTempView("cp_updates")
    }
  }

  test("ALTER TABLE RENAME COLUMN is metadata-only; the new name works " +
      "across SELECT / MERGE / UPDATE text immediately") {
    val root = tmpDir("sql_rename")
    val t = LakeTable(spark, s"$root/t")
    t.append(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"))
    LakeSql.register("ren_t", t)
    try {
      spark.sql("ALTER TABLE ren_t RENAME COLUMN v TO score")
      assert(t.schema.fieldNames.toSeq == Seq("id", "score"))
      assert(spark.sql(
        "SELECT sum(score) AS s FROM ren_t").as[Double].head() == 30.0)
      spark.sql("UPDATE ren_t SET score = score + 1.0 WHERE id >= 2")
      assert(spark.sql(
        "SELECT score FROM ren_t WHERE id = 2").as[Double].head() == 21.0)
      Seq((3L, 30.0)).toDF("id", "score").createOrReplaceTempView("ren_updates")
      spark.sql(
        """MERGE INTO ren_t AS t0 USING ren_updates AS u ON t0.id = u.id
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""")
      assert(t.read.count() == 3)
      val e = intercept[IllegalArgumentException](
        spark.sql("ALTER TABLE ren_t RENAME COLUMN id TO score"))
      assert(e.getMessage.contains("already exists"), e.getMessage)
    } finally {
      LakeSql.unregister("ren_t")
      spark.catalog.dropTempView("ren_updates")
    }
  }

  test("SET/UNSET/SHOW TBLPROPERTIES round-trip through SQL text; " +
      "enableChangeFeed property switches CDF capture") {
    val root = tmpDir("sql_props")
    val t = LakeTable(spark, s"$root/t")
    t.append(Seq((1L, 1.0)).toDF("id", "v"))
    LakeSql.register("props_t", t)
    try {
      spark.sql(
        "ALTER TABLE props_t SET TBLPROPERTIES ('team' = 'gold', 'tier' = 'silver')")
      val shown = spark.sql("SHOW TBLPROPERTIES props_t")
        .as[(String, String)].collect().toMap
      assert(shown == Map("team" -> "gold", "tier" -> "silver"))
      assert(spark.sql("SHOW TBLPROPERTIES props_t ('team')")
        .as[(String, String)].collect().toSeq == Seq("team" -> "gold"))
      spark.sql("ALTER TABLE props_t UNSET TBLPROPERTIES ('tier')")
      assert(t.tableProperties == Map("team" -> "gold"))
      // the recognized CDF switch, driven purely through SQL
      spark.sql(
        "ALTER TABLE props_t SET TBLPROPERTIES ('enableChangeFeed' = 'true')")
      val vOn = t.currentVersion
      Seq((1L, 2.0)).toDF("id", "v").createOrReplaceTempView("props_updates")
      spark.sql(
        """MERGE INTO props_t AS t0 USING props_updates AS u ON t0.id = u.id
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""")
      val feed = spark.sql(
        s"SELECT * FROM table_changes('props_t', $vOn)")
      assert(feed.filter($"_change_type" === "update_postimage").count() == 1)
    } finally {
      LakeSql.unregister("props_t")
      spark.catalog.dropTempView("props_updates")
    }
  }

  test("SELECT ... WHERE over a lake table prunes whole files through the " +
      "manifest zone maps before Spark plans the scan") {
    val t = skipTable("sql_skip")
    LakeSql.register("skip_t", t)
    try {
      val pruned = spark.sql(
        "SELECT id, tag FROM skip_t WHERE id >= 150 AND id <= 160")
      assert(scannedFiles(pruned) == 1, "two of three files must be zone-skipped")
      assert(pruned.count() == 11)
      val full = spark.sql("SELECT id, tag FROM skip_t")
      assert(scannedFiles(full) == 3)
      // non-zone conjuncts stay exact through the residual filter
      val mixed = spark.sql(
        "SELECT id FROM skip_t WHERE id >= 250 AND tag LIKE '%c%' AND id % 2 = 0")
      assert(scannedFiles(mixed) == 1)
      assert(mixed.count() == 26)
      // an aliased relation prunes too; a foreign qualifier never does
      val aliased = spark.sql(
        "SELECT x.id FROM skip_t AS x WHERE x.id <= 50")
      assert(scannedFiles(aliased) == 1)
    } finally LakeSql.unregister("skip_t")
  }

  test("a fact-column filter above a join prunes the fact's files") {
    LakeSql.register("join_fact", skipTable("sql_skip_join"))
    Seq(("a", "alpha"), ("b", "beta"), ("c", "gamma")).toDF("tag", "name")
      .createOrReplaceTempView("join_dim")
    try {
      val q = spark.sql("SELECT f.id, d.name FROM join_fact f " +
        "JOIN join_dim d ON f.tag = d.tag WHERE f.id >= 150 AND f.id <= 160")
      assert(scannedFiles(q) == 1, "the filter sits above the join, not the scan")
      assert(q.as[(Long, String)].collect().toSet ==
        (150L to 160L).map(_ -> "beta").toSet)
    } finally {
      LakeSql.unregister("join_fact")
      spark.catalog.dropTempView("join_dim")
    }
  }

  test("strict < and > bounds prune") {
    LakeSql.register("strict_t", skipTable("sql_skip_strict"))
    try {
      val q = spark.sql("SELECT id FROM strict_t WHERE id > 100 AND id < 201")
      assert(scannedFiles(q) == 1, "file a tops out at 100, file c starts at 201")
      assert(q.as[Long].collect().toSet == (101L to 200L).toSet)
    } finally LakeSql.unregister("strict_t")
  }

  test("a TIMESTAMP-keyed MERGE prunes: only the admitting file is rewritten") {
    import java.sql.Timestamp
    val pruneKey = "spark.graft.merge.pruneMinBytes"
    val t = LakeTable(spark, s"${tmpDir("sql_ts_merge")}/t")
    t.create(Seq((new Timestamp(0L), 0)).toDF("ts", "v").schema,
      statsColumns = Seq("ts"))
    Seq("01", "10", "20").foreach { day =>
      t.append((0 until 24).map(h =>
        (Timestamp.valueOf(f"2024-01-$day $h%02d:00:00"), h)).toDF("ts", "v")
        .coalesce(1))
    }
    def inodes: Set[Long] =
      t.read.select(input_file_name()).distinct().as[String].collect().map { f =>
        java.nio.file.Files.getAttribute(java.nio.file.Paths.get(
          f.stripPrefix("file:")), "unix:ino").asInstanceOf[Long]
      }.toSet
    val before = inodes
    Seq((Timestamp.valueOf("2024-01-10 05:00:00"), 500),
      (Timestamp.valueOf("2024-01-10 05:30:00"), 530)).toDF("ts", "v")
      .createOrReplaceTempView("ts_src")
    LakeSql.register("ts_t", t)
    spark.conf.set(pruneKey, "1")
    try {
      spark.sql("MERGE INTO ts_t t USING ts_src s ON t.ts = s.ts " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    } finally {
      spark.conf.unset(pruneKey)
      LakeSql.unregister("ts_t")
      spark.catalog.dropTempView("ts_src")
    }
    assert(t.read.count() == 73)
    assert(t.read.filter(col("v") >= 500).count() == 2)
    assert(before.intersect(inodes).size == 2,
      "the 01 and 20 files must be re-linked, not rewritten")
  }

  test("CREATE TABLE ... SHALLOW CLONE forks through SQL text: zero-copy, " +
      "independent lifecycle, auto-registered") {
    val dir = tmpDir("sql_clone")
    val t = LakeTable(spark, s"$dir/src")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    LakeSql.register("clone_src", t)
    try {
      val res = spark.sql(
        s"CREATE TABLE clone_dst SHALLOW CLONE clone_src LOCATION '$dir/dst'")
      assert(res.columns.toSeq == Seq("table", "version", "num_files"))
      // the clone reads identically and then DIVERGES without touching src
      assert(spark.sql("SELECT count(*) AS n FROM clone_dst")
        .as[Long].head() == 2L)
      spark.sql("INSERT INTO clone_dst VALUES (3, 'c')")
      assert(spark.sql("SELECT count(*) AS n FROM clone_dst")
        .as[Long].head() == 3L)
      assert(t.read.count() == 2)
      // a second clone under a taken name is refused
      val e = intercept[IllegalArgumentException](spark.sql(
        s"CREATE TABLE clone_dst SHALLOW CLONE clone_src LOCATION '$dir/dst2'"))
      assert(e.getMessage.contains("already registered"), e.getMessage)
    } finally { LakeSql.unregister("clone_src"); LakeSql.unregister("clone_dst") }
  }

  test("DESCRIBE TABLE / SHOW COLUMNS list the CURRENT logical schema " +
      "with partition and generated annotations") {
    val dir = tmpDir("sql_desc")
    val t = LakeTable(spark, s"$dir/t")
    t.create(Seq((1L, "2024-01", 1.0)).toDF("k", "month", "amt").schema,
      partitionBy = Some("month"))
    t.append(Seq((1L, "2024-01", 5.0)).toDF("k", "month", "amt"))
    t.renameColumn("amt", "amount")
    LakeSql.register("desc_t", t)
    try {
      val desc = spark.sql("DESCRIBE TABLE desc_t")
        .as[(String, String, Boolean, String)].collect().toSeq
      assert(desc.map(_._1) == Seq("k", "month", "amount"))
      assert(desc.find(_._1 == "month").get._4 == "partition")
      assert(desc.find(_._1 == "amount").get._2 == "double")
      assert(spark.sql("SHOW COLUMNS IN desc_t")
        .as[String].collect().toSeq == Seq("k", "month", "amount"))
    } finally LakeSql.unregister("desc_t")
  }

  test("composite keys and swapped equality sides resolve") {
    val root = tmpDir("sql_composite")
    val t = LakeTable(spark, s"$root/t")
    t.append(Seq((1L, "x", "old"), (1L, "y", "old")).toDF("k1", "k2", "v"))
    LakeSql.register("comp", t)
    Seq((1L, "x", "new"), (2L, "z", "new")).toDF("k1", "k2", "v")
      .createOrReplaceTempView("comp_updates")
    try {
      spark.sql(
        """MERGE INTO comp AS t0
           USING comp_updates AS u
           ON t0.k1 = u.k1 AND u.k2 = t0.k2
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""")
    } finally {
      LakeSql.unregister("comp")
      spark.catalog.dropTempView("comp_updates")
    }
    assert(t.read.orderBy("k1", "k2").as[(Long, String, String)].collect().toSeq ==
      Seq((1L, "x", "new"), (1L, "y", "old"), (2L, "z", "new")))
  }

  test("liquid clustering: ALTER TABLE CLUSTER BY is metadata-only, plain " +
      "OPTIMIZE re-clusters on the key, ZORDER is refused while clustered, " +
      "CLUSTER BY NONE clears") {
    val t = LakeTable(spark, s"${tmpDir("sql_cluster")}/t")
    t.append(Seq((3L, "c", 30), (1L, "a", 10), (2L, "b", 20)).toDF("k", "v", "x"))
    LakeSql.register("liq", t)
    try {
      val v0 = t.currentVersion
      spark.sql("ALTER TABLE liq CLUSTER BY (k, x)")
      // metadata-only: one properties commit, no data rewrite
      assert(t.currentVersion == v0 + 1)
      assert(t.clusterBy == Seq("k", "x"))
      assert(spark.sql("SHOW TBLPROPERTIES liq ('clusteringColumns')")
        .as[(String, String)].collect().toSeq ==
        Seq(("clusteringColumns", "k,x")))

      // plain OPTIMIZE routes to the clustering key
      val opt = spark.sql("OPTIMIZE liq").collect().head
      assert(opt.getString(0) == "k,x") // clustered_by
      assert(t.read.orderBy("k").as[(Long, String, Int)].collect().toSeq ==
        Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)))

      // clustering owns the layout: explicit ZORDER refused
      val e = intercept[IllegalArgumentException] {
        spark.sql("OPTIMIZE liq ZORDER BY (v)")
      }
      assert(e.getMessage.contains("liquid-clustered"))

      // OPTIMIZE FULL: valid only while clustered; DESCRIBE DETAIL names
      // the clustering key
      val full = spark.sql("OPTIMIZE liq FULL").collect().head
      assert(full.getString(0) == "k,x")
      assert(spark.sql("DESCRIBE DETAIL liq").collect().head
        .getAs[String]("clustering_columns") == "k,x")

      spark.sql("ALTER TABLE liq CLUSTER BY NONE")
      assert(t.clusterBy.isEmpty)
      intercept[IllegalArgumentException] {
        spark.sql("OPTIMIZE liq FULL") // no longer clustered
      }
      spark.sql("OPTIMIZE liq ZORDER BY (x)") // allowed again
    } finally LakeSql.unregister("liq")
  }

  test("CLUSTER BY normalizes column case to the schema's spelling, so a " +
      "later plain OPTIMIZE resolves the key; reserved property namespaces " +
      "refuse raw SET/UNSET TBLPROPERTIES") {
    val t = LakeTable(spark, s"${tmpDir("sql_cluster_case")}/t")
    t.append(Seq((3L, 30), (1L, 10), (2L, 20)).toDF("o_custkey", "x"))
    LakeSql.register("liqc", t)
    try {
      // user spells the column upper-case; the stored key is canonical
      spark.sql("ALTER TABLE liqc CLUSTER BY (O_CUSTKEY)")
      assert(t.clusterBy == Seq("o_custkey"))
      // the OPTIMIZE that used to throw 'unknown cluster column' now works
      val opt = spark.sql("OPTIMIZE liqc").collect().head
      assert(opt.getString(0) == "o_custkey")
      assert(t.read.orderBy("o_custkey").as[(Long, Int)].collect().toSeq ==
        Seq((1L, 10), (2L, 20), (3L, 30)))

      // reserved namespaces: identity state, defaults, clustering key —
      // a raw SET would bypass the dedicated DDL's validation (a malformed
      // identity spec would break every later append)
      val e1 = intercept[IllegalArgumentException](
        t.setTableProperties(Map("identity.o_custkey" -> "garbage")))
      assert(e1.getMessage.contains("reserved"))
      intercept[IllegalArgumentException](
        t.setTableProperties(Map("default.x" -> "42")))
      intercept[IllegalArgumentException](
        t.setTableProperties(Map("clusteringColumns" -> "nope")))
      intercept[IllegalArgumentException](
        t.unsetTableProperties(Seq("clusteringColumns")))
      intercept[IllegalArgumentException] {
        spark.sql(
          "ALTER TABLE liqc SET TBLPROPERTIES ('identity.x' = '1,1')")
      }
      // the dedicated DDL paths still work
      spark.sql("ALTER TABLE liqc ALTER COLUMN x SET DEFAULT 7")
      assert(t.defaultValues == Map("x" -> "7"))
      spark.sql("ALTER TABLE liqc ALTER COLUMN x DROP DEFAULT")
      assert(t.defaultValues.isEmpty)
      spark.sql("ALTER TABLE liqc CLUSTER BY NONE")
      assert(t.clusterBy.isEmpty)
      // unrelated properties remain freely settable
      t.setTableProperties(Map("owner" -> "etl"))
      assert(t.tableProperties("owner") == "etl")
    } finally LakeSql.unregister("liqc")
  }

  test("liquid clustering over a STRING key routes OPTIMIZE to the " +
      "range-sort layout (z-order can't bin strings) and keeps the rows") {
    val t = LakeTable(spark, s"${tmpDir("sql_cluster_str")}/t")
    t.append(Seq((3L, "c"), (1L, "a"), (2L, "b")).toDF("k", "v"))
    LakeSql.register("liqs", t)
    try {
      spark.sql("ALTER TABLE liqs CLUSTER BY (v)")
      val opt = spark.sql("OPTIMIZE liqs").collect().head
      assert(opt.getString(0) == "v")
      assert(t.read.orderBy("k").as[(Long, String)].collect().toSeq ==
        Seq((1L, "a"), (2L, "b"), (3L, "c")))
    } finally LakeSql.unregister("liqs")
  }

  test("CREATE TABLE ... CLUSTER BY declares liquid clustering from birth; " +
      "combining with PARTITIONED BY is refused") {
    val dir = tmpDir("sql_create_cluster")
    try {
      spark.sql(
        s"CREATE TABLE cb_t (k BIGINT, x INT) CLUSTER BY (k, x) LOCATION '$dir/t'")
      val t = spark.sql("SHOW TBLPROPERTIES cb_t ('clusteringColumns')")
        .as[(String, String)].collect().toSeq
      assert(t == Seq(("clusteringColumns", "k,x")))
      // Spark's own parser already refuses the combination (our dispatch
      // keeps a belt-and-suspenders require for programmatic plans)
      intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
        spark.sql("CREATE TABLE cb_bad (k BIGINT, p STRING) " +
          s"CLUSTER BY (k) PARTITIONED BY (p) LOCATION '$dir/bad'")
      }
    } finally LakeSql.unregister("cb_t")
  }

  test("liquid clustering refusals: unknown column; partitioned table") {
    val t = LakeTable(spark, s"${tmpDir("sql_cluster_bad")}/t")
    t.append(Seq((1L, "a")).toDF("k", "v"))
    intercept[IllegalArgumentException] { t.setClusterBy(Seq("nope")) }

    val pt = LakeTable(spark, s"${tmpDir("sql_cluster_part")}/t")
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    pt.create(StructType(Seq(StructField("k", LongType), StructField("p", StringType))),
      partitionBy = Some("p"))
    pt.append(Seq((1L, "x")).toDF("k", "p"))
    val e = intercept[IllegalArgumentException] { pt.setClusterBy(Seq("k")) }
    assert(e.getMessage.contains("partitioned"))
  }
}
