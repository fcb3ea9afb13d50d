package graft.expressions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/**
 * SparkSessionExtensions hook (SURVEY §7 extension ladder, step c):
 * registers the engine's native expressions in the SQL function registry so
 * plain SQL text can call them, and makes `spark.sql` the one SQL door to
 * `LakeSql`-registered lake tables:
 *
 * {{{
 *   SparkSession.builder()
 *     .withExtensions(new GraftExtensions)   // or
 *     .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
 *   ...
 *   spark.sql("SELECT vector_dot(a.embedding, b.embedding) FROM ...")
 * }}}
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.vectorDotDescriptor)
    ext.injectFunction(GraftExtensions.minhashSignatureDescriptor)
    ext.injectFunction(GraftExtensions.simhashDescriptor)
    ext.injectFunction(GraftExtensions.shingleHashSetDescriptor)
    ext.injectFunction(GraftExtensions.jaccardSortedDescriptor)
    // lake statements (DML, DDL, maintenance) run through the session's
    // parser — see LakeSqlParser; LakeSql-registered tables resolve inside
    // queries (SELECT/time travel) — see ResolveLakeRelations;
    // `table_changes` is a table function, which Spark resolves before any
    // extension rule runs
    ext.injectParser((session, delegate) => new graft.lake.LakeSqlParser(session, delegate))
    ext.injectResolutionRule(session => new graft.lake.ResolveLakeRelations(session))
    ext.injectTableFunction(GraftExtensions.tableChangesDescriptor)
  }
}

object GraftExtensions {
  type Descriptor = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** `table_changes('t', from[, to])` — the change feed of a
   *  `LakeSql`-registered lake table (Delta's SQL CDF read). */
  val tableChangesDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) = (
    FunctionIdentifier("table_changes"),
    new ExpressionInfo("graft.lake.LakeSql", "table_changes"),
    (args: Seq[Expression]) => graft.lake.LakeSql.tableChanges(args))

  private def litInt(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an INT literal, got $other")
  }

  val vectorDotDescriptor: Descriptor = (
    FunctionIdentifier("vector_dot"),
    new ExpressionInfo(classOf[VectorDot].getName, "vector_dot"),
    (children: Seq[Expression]) => {
      require(children.size == 2, s"vector_dot takes 2 arguments, got ${children.size}")
      VectorDot(children.head, children(1))
    })

  /** `minhash_signature(tokens, n, k)` — word-n-gram MinHash signature. */
  val minhashSignatureDescriptor: Descriptor = (
    FunctionIdentifier("minhash_signature"),
    new ExpressionInfo(classOf[MinHashShingleSig].getName, "minhash_signature"),
    (children: Seq[Expression]) => {
      require(children.size == 3, s"minhash_signature takes 3 arguments, got ${children.size}")
      MinHashShingleSig(children.head,
        litInt(children(1), "minhash_signature n"), litInt(children(2), "minhash_signature k"))
    })

  /** `simhash(tokens, bits)` — SimHash sketch of a token array. */
  val simhashDescriptor: Descriptor = (
    FunctionIdentifier("simhash"),
    new ExpressionInfo(classOf[SimHashSketch].getName, "simhash"),
    (children: Seq[Expression]) => {
      require(children.size == 2, s"simhash takes 2 arguments, got ${children.size}")
      SimHashSketch(children.head, litInt(children(1), "simhash bits"))
    })

  /** `shingle_hash_set(tokens, n)` — distinct sorted word-n-gram hashes. */
  val shingleHashSetDescriptor: Descriptor = (
    FunctionIdentifier("shingle_hash_set"),
    new ExpressionInfo(classOf[ShingleHashSet].getName, "shingle_hash_set"),
    (children: Seq[Expression]) => {
      require(children.size == 2, s"shingle_hash_set takes 2 arguments, got ${children.size}")
      ShingleHashSet(children.head, litInt(children(1), "shingle_hash_set n"))
    })

  /** `jaccard_sorted(a, b)` — exact Jaccard of two sorted BIGINT arrays. */
  val jaccardSortedDescriptor: Descriptor = (
    FunctionIdentifier("jaccard_sorted"),
    new ExpressionInfo(classOf[JaccardSorted].getName, "jaccard_sorted"),
    (children: Seq[Expression]) => {
      require(children.size == 2, s"jaccard_sorted takes 2 arguments, got ${children.size}")
      JaccardSorted(children.head, children(1))
    })
}
