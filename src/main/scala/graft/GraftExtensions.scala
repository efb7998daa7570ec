package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** SQL surface for the engine's native expressions: register them as
  * functions so `spark.sql` users can call cosine/simhash/minhash/
  * jaccard/shingles directly. Two entry points:
  *
  *  - `GraftExtensions` for `withExtensions` (every [[GraftSession]]) /
  *    `spark.sql.extensions=graft.GraftExtensions` (plan-time injection)
  *  - `GraftFunctions.register(spark)` for an existing session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // table-valued functions: SQL access to the whole-operator joins
    GraftFunctions.tableFunctions.foreach { case (name, info, builder) =>
      e.injectTableFunction((FunctionIdentifier(name), info, builder))
    }
    // whole-operator extension: as-of join logical node → merge exec
    e.injectPlannerStrategy(_ => graft.plans.GraftStrategy)
    // optimizer rule: per-group top-k window anti-pattern → bounded
    // heap aggregate (see TopKWindowRewrite for the exactness guard)
    e.injectOptimizerRule(_ => graft.plans.TopKWindowRewrite)
  }
}

object GraftFunctions {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "",
      "built-in")

  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_cosine",
      info("graft_cosine", "cosine similarity of two float arrays"),
      (es: Seq[Expression]) => CosineSim(es(0), es(1))),
    ("graft_dot",
      info("graft_dot", "dot product of two float arrays"),
      (es: Seq[Expression]) => DotProduct(es(0), es(1))),
    ("graft_simhash",
      info("graft_simhash", "60-bit simhash of a token array"),
      (es: Seq[Expression]) => SimHash64(es(0))),
    ("graft_jaccard",
      info("graft_jaccard", "set jaccard of two string arrays"),
      (es: Seq[Expression]) => JaccardSim(es(0), es(1))),
    ("graft_shingles",
      info("graft_shingles", "word n-gram shingles of a string; arg2 = n"),
      (es: Seq[Expression]) => WordShinglesExpr(es(0),
        es(1).eval().asInstanceOf[Int])),
    ("graft_minhash",
      info("graft_minhash", "minhash signature of a string; arg2 = n, arg3 = k"),
      (es: Seq[Expression]) => MinHashOfText(es(0),
        es(1).eval().asInstanceOf[Int], es(2).eval().asInstanceOf[Int],
        0x7f4a7c15)),
    ("graft_langid",
      info("graft_langid", "heuristic language id of a string (en/de/fr/es/zh/und)"),
      (es: Seq[Expression]) => LangIdExpr(es(0), TextFunctions.StopwordsByLang)),
    ("graft_stopword_hits",
      info("graft_stopword_hits",
        "count of English stopword tokens in a string (quality signal)"),
      (es: Seq[Expression]) => StopwordHitsExpr(es(0),
        TextFunctions.StopwordsByLang.head._2)),
    ("graft_bloom_agg",
      info("graft_bloom_agg",
        "aggregate keys into a binary Bloom sketch; args: key, " +
          "expected_items, num_bits (Spark's internal BloomFilterAggregate)"),
      (es: Seq[Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.XxHash64
        import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
        new BloomFilterAggregate(XxHash64(Seq(es(0)), 42L), es(1), es(2))
          .toAggregateExpression()
      }),
    ("graft_might_contain",
      info("graft_might_contain",
        "probe a graft_bloom_agg sketch; args: bloom, key"),
      (es: Seq[Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, XxHash64}
        BloomFilterMightContain(es(0), XxHash64(Seq(es(1)), 42L))
      }),
    ("graft_deletion_variants",
      info("graft_deletion_variants",
        "distinct <=k-char-deletion variants of a string (FastSS " +
          "fuzzy-join index keys); arg2 = k"),
      (es: Seq[Expression]) => DeletionVariantsExpr(es(0),
        es(1).eval().asInstanceOf[Int])),
    ("graft_word_chunks",
      info("graft_word_chunks",
        "non-overlapping c-token blocks of a string in document order " +
          "(boilerplate-removal unit); arg2 = c"),
      (es: Seq[Expression]) => WordChunksExpr(es(0),
        es(1).eval().asInstanceOf[Int])),
    ("graft_word_spans",
      info("graft_word_spans",
        "positional overlapping k-token windows of a string (array " +
          "index = start token offset); arg2 = k"),
      (es: Seq[Expression]) => WordSpansPosExpr(es(0),
        es(1).eval().asInstanceOf[Int])),
    ("graft_scrub_spans",
      info("graft_scrub_spans",
        "struct(clean_text, n_tokens, n_removed): drop tokens covered " +
          "by k-windows starting at the given offsets; args: text, " +
          "array<int> starts, k"),
      (es: Seq[Expression]) => ScrubCoveredExpr(es(0), es(1),
        es(2).eval().asInstanceOf[Int])),
    ("graft_repetition",
      info("graft_repetition",
        "struct(n_tokens, distinct_tokens, top_token_count, " +
          "top_bigram_count, top_trigram_count) repetition stats"),
      (es: Seq[Expression]) => RepetitionStatsExpr(es(0))),
    ("graft_redact_pii",
      info("graft_redact_pii",
        "redact urls/emails/phone-like runs to [URL]/[EMAIL]/[PHONE]"),
      // Built from catalyst RegExpReplace directly (a Column bridged
      // back to Expression is an unresolved ColumnNode here and can't
      // be evaluated inside a function-registry builder). Same pattern
      // chain and order as TextQuality.redactPii.
      (es: Seq[Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.{Literal, RegExpReplace}
        import graft.operators.TextQuality._
        def rep(e: Expression, p: String, r: String): Expression =
          RegExpReplace(e, Literal(p), Literal(r))
        rep(rep(rep(es(0), UrlPattern, "[URL]"), EmailPattern, "[EMAIL]"),
          PhonePattern, "[PHONE]")
      }))

  /** Table-valued functions (`SELECT * FROM graft_asof_join(...)`).
    *
    * TVF arguments are scalar expressions in Spark, so relations are
    * passed by NAME (table/temp-view, a string literal); the builder
    * resolves them against the active session and returns the
    * operator's logical plan, which the outer query's analysis then
    * folds in — the SQL route reaches the SAME native operators as the
    * DataFrame API (AsOfJoinExec merge, binned range join).
    */
  private def strArg(e: Expression, what: String): String = e.eval() match {
    case s: org.apache.spark.unsafe.types.UTF8String => s.toString
    case s: String                                   => s
    case other => throw new IllegalArgumentException(
      s"graft TVF: $what must be a string literal, got $other")
  }
  private def longArg(e: Expression, what: String): Long = e.eval() match {
    case n: java.lang.Number => n.longValue()
    case other => throw new IllegalArgumentException(
      s"graft TVF: $what must be an integer literal, got $other")
  }

  val tableFunctions: Seq[(String, ExpressionInfo,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] = Seq(
    ("graft_asof_join",
      info("graft_asof_join",
        "graft_asof_join(left, right, key, leftTime, rightTime, 'p1,p2')" +
          " — point-in-time join of the named tables/views; payload is a" +
          " comma-separated right-column list"),
      (es: Seq[Expression]) => {
        require(es.length == 6,
          "graft_asof_join(left, right, key, leftTime, rightTime, payloadCsv)")
        val spark = SparkSession.active
        val payload = strArg(es(5), "payload").split(",")
          .map(_.trim).filter(_.nonEmpty).toSeq
        graft.operators.AsOf.join(
          spark.table(strArg(es(0), "left table")),
          spark.table(strArg(es(1), "right table")),
          strArg(es(2), "key"), strArg(es(3), "leftTime"),
          strArg(es(4), "rightTime"), payload)
          .queryExecution.logical
      }),
    ("graft_range_join",
      info("graft_range_join",
        "graft_range_join(left, right, key, t, start, end, binWidth)" +
          " — interval-containment join of the named tables/views via" +
          " axis binning (linear, not quadratic)"),
      (es: Seq[Expression]) => {
        require(es.length == 7,
          "graft_range_join(left, right, key, t, start, end, binWidth)")
        val spark = SparkSession.active
        graft.operators.RangeJoin.join(
          spark.table(strArg(es(0), "left table")),
          spark.table(strArg(es(1), "right table")),
          strArg(es(2), "key"), strArg(es(3), "t column"),
          strArg(es(4), "start column"), strArg(es(5), "end column"),
          binWidth = longArg(es(6), "binWidth"))
          .queryExecution.logical
      }),
    ("graft_decontaminate",
      info("graft_decontaminate",
        "graft_decontaminate(corpus, bench, idCol, textCol, n, minShared)" +
          " — benchmark-contamination pairs (doc_id, bench_id, n_shared," +
          " frac) between the named tables/views"),
      (es: Seq[Expression]) => {
        require(es.length == 6,
          "graft_decontaminate(corpus, bench, idCol, textCol, n, minShared)")
        val spark = SparkSession.active
        graft.operators.Decontaminate.overlapPairs(
          spark.table(strArg(es(0), "corpus table")),
          spark.table(strArg(es(1), "bench table")),
          strArg(es(2), "id column"), strArg(es(3), "text column"),
          n = longArg(es(4), "n").toInt,
          minShared = longArg(es(5), "minShared").toInt)
          .queryExecution.logical
      }))

  /** Register into an existing session's function registry. */
  def register(spark: SparkSession): Unit = {
    all.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
    tableFunctions.foreach { case (name, _, builder) =>
      spark.sessionState.tableFunctionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
