package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sinks.GraftMySqlDialect

/** SQL function registration + MySQL dialect mapping. */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("native functions callable from spark.sql after registration") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT
        |  graft_cosine(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c,
        |  graft_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d,
        |  graft_jaccard(array('a','b'), array('b','c')) AS j,
        |  graft_shingles('a b c d', 3) AS sh,
        |  size(graft_minhash('a b c d e', 2, 16)) AS mh
        |""".stripMargin).head()
    assert(math.abs(r.getAs[Double]("c") - 1.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("d") - 11.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("j") - (1.0 / 3)) < 1e-12)
    assert(r.getAs[scala.collection.Seq[String]]("sh").toSeq ==
      Seq("a b c", "b c d"))
    assert(r.getAs[Int]("mh") == 16)
    // simhash deterministic through SQL
    val s1 = spark.sql("SELECT graft_simhash(array('x','y'))").head().getLong(0)
    val s2 = spark.sql("SELECT graft_simhash(array('x','y'))").head().getLong(0)
    assert(s1 == s2)
    // language id + stopword kernels through SQL
    val lid = spark.sql(
      "SELECT graft_langid('the cat is on the mat and that is that'), " +
        "graft_stopword_hits('the cat and the dog')").head()
    assert(lid.getString(0) == "en")
    assert(lid.getInt(1) == 3)
    // round-3 kernels through SQL
    val r3 = spark.sql(
      "SELECT graft_repetition('a b a b a').top_bigram_count AS bg, " +
        "graft_redact_pii('mail x@y.io now') AS red, " +
        "graft_deletion_variants('ab', 1) AS dv").head()
    assert(r3.getInt(0) == 2)
    assert(r3.getString(1) == "mail [EMAIL] now")
    assert(r3.getSeq[String](2) == Seq("ab", "b", "a"))
    // round-11 kernels through SQL
    val r11 = spark.sql(
      "SELECT graft_word_chunks('a b c', 2) AS ch, " +
        "graft_word_spans('a b c', 2) AS sp, " +
        "graft_scrub_spans('a b c d', array(1), 2) AS sc").head()
    assert(r11.getSeq[String](0) == Seq("a b", "c"))
    assert(r11.getSeq[String](1) == Seq("a b", "b c"))
    val sc = r11.getStruct(2)
    assert(sc.getString(0) == "a d" && sc.getInt(1) == 4 && sc.getInt(2) == 2)
    // starts coerce (SQL integer literals/arrays often type as BIGINT);
    // inputTypes must coerce rather than misread the backing array
    val scL = spark.sql(
      "SELECT graft_scrub_spans('a b c d', array(CAST(1 AS BIGINT)), 2)")
      .head().getStruct(0)
    assert(scL.getString(0) == "a d" && scL.getInt(2) == 2)
  }

  test("array<double> inputs are coerced, not misread (inputTypes)") {
    GraftFunctions.register(spark)
    // SQL array literals of unsuffixed decimals type as array<double>;
    // before declaring inputTypes, ArrayData.getFloat misread 4 of each
    // element's 8 bytes and returned garbage silently.
    val r = spark.sql(
      """SELECT
        |  graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c,
        |  graft_dot(array(1.5D, 2.0D), array(2.0D, 4.0D)) AS d
        |""".stripMargin).head()
    assert(math.abs(r.getAs[Double]("c") - 1.0) < 1e-6)
    assert(math.abs(r.getAs[Double]("d") - 11.0) < 1e-6)
    // Column API over a double-typed embedding column
    val df = Seq((Array(1.0, 2.0), Array(2.0, 4.0))).toDF("a", "b")
    val cos = df.select(
      graft.functions.VectorFunctions.cosineSim(col("a"), col("b")).as("c"))
      .head().getAs[Double]("c")
    assert(math.abs(cos - 1.0) < 1e-6)
    // aggregate: VectorMean over array<double>
    val vm = df.select(col("a")).union(df.select(col("b")))
      .agg(graft.functions.VectorAgg.vectorMean(col("a")).as("m"))
      .head().getAs[scala.collection.Seq[Double]]("m")
    assert(math.abs(vm(0) - 1.5) < 1e-6 && math.abs(vm(1) - 3.0) < 1e-6)
  }

  test("SparkSessionExtensions class injects the same functions") {
    // a new session carries the shared session's extensions: the
    // functions are injected, not registered
    val s2 = spark.newSession()
    assert(s2.sql("SELECT graft_dot(array(1.0F), array(2.0F))")
      .head().getDouble(0) == 2.0)
  }

  test("TVF surface: graft_asof_join / graft_range_join from spark.sql == DataFrame API") {
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(19)
    def t(min: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-01 ${8 + min / 60}%02d:${min % 60}%02d:00")
    val left = (1 to 200).map { i =>
      (rnd.nextInt(8).toLong, t(rnd.nextInt(500)), s"L$i")
    }.toDF("k", "lt", "name")
    val right = (1 to 150).map { i =>
      (rnd.nextInt(8).toLong, t(rnd.nextInt(500)), i.toDouble)
    }.toDF("k", "rt", "price")
      .groupBy("k", "rt").agg(max("price").as("price"))
    left.createOrReplaceTempView("tvf_left")
    right.createOrReplaceTempView("tvf_right")

    val viaSql = spark.sql(
      """SELECT * FROM graft_asof_join(
        |  'tvf_left', 'tvf_right', 'k', 'lt', 'rt', 'price')""".stripMargin)
    val viaApi = graft.operators.AsOf.join(
      left, right, "k", "lt", "rt", Seq("price"))
    assert(viaSql.columns.toSeq == viaApi.columns.toSeq)
    // fallback=false: a codegen COMPILE failure in the merge exec must
    // fail loudly here, not silently degrade (this exact test shape
    // caught the round-3 redefinition bug only via a log line)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      assert(viaSql.collect().map(_.toSeq).toSet ==
        viaApi.collect().map(_.toSeq).toSet)
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
    // the SQL route reaches the native merge exec, not a rewrite
    assert(viaSql.queryExecution.executedPlan.toString.contains("AsOfJoin"))

    val pts = (1 to 300).map(i =>
      (rnd.nextInt(6).toLong, rnd.nextInt(800).toLong, s"p$i")).toDF("k", "t", "tag")
    val ivals = (1 to 80).map { i =>
      val s = rnd.nextInt(760).toLong
      (rnd.nextInt(6).toLong, s, s + rnd.nextInt(50).toLong, i.toLong)
    }.toDF("k", "s", "e", "ival_id")
    pts.createOrReplaceTempView("tvf_pts")
    ivals.createOrReplaceTempView("tvf_ivals")
    val rSql = spark.sql(
      """SELECT * FROM graft_range_join(
        |  'tvf_pts', 'tvf_ivals', 'k', 't', 's', 'e', 10)""".stripMargin)
    val rApi = graft.operators.RangeJoin.join(
      pts, ivals, "k", "t", "s", "e", binWidth = 10L)
    assert(rSql.collect().map(_.toSeq).toSet ==
      rApi.collect().map(_.toSeq).toSet)
    assert(rSql.count() > 0)
  }

  test("TVF surface: graft_decontaminate from spark.sql == DataFrame API") {
    GraftFunctions.register(spark)
    val docs = Tables(spark, sf001, "documents")
    docs.filter(col("doc_id") % 23 =!= 0)
      .createOrReplaceTempView("tvf_corpus")
    docs.filter(col("doc_id") % 23 === 0)
      .createOrReplaceTempView("tvf_bench")
    val viaSql = spark.sql(
      """SELECT * FROM graft_decontaminate(
        |  'tvf_corpus', 'tvf_bench', 'doc_id', 'text', 3, 2)""".stripMargin)
    val viaApi = graft.operators.Decontaminate.overlapPairs(
      docs.filter(col("doc_id") % 23 =!= 0),
      docs.filter(col("doc_id") % 23 === 0),
      "doc_id", "text", n = 3, minShared = 2)
    assert(viaSql.columns.toSeq == viaApi.columns.toSeq)
    assert(viaSql.collect().map(_.toSeq).toSet ==
      viaApi.collect().map(_.toSeq).toSet)
    assert(viaSql.count() > 0)
  }

  test("MySQL dialect maps the reference's DDL types (schema_mapper.py:95-117)") {
    val d = GraftMySqlDialect
    assert(d.canHandle("jdbc:mysql://host/db"))
    assert(d.getJDBCType(IntegerType).get.databaseTypeDefinition == "BIGINT")
    assert(d.getJDBCType(StringType).get.databaseTypeDefinition == "VARCHAR(255)")
    assert(d.getJDBCType(BooleanType).get.databaseTypeDefinition == "TINYINT(1)")
    assert(d.getJDBCType(TimestampNTZType).get.databaseTypeDefinition == "DATETIME")
    assert(d.getJDBCType(DecimalType(10, 2)).get.databaseTypeDefinition == "DECIMAL(10,2)")
    assert(d.getJDBCType(ArrayType(StringType)).get.databaseTypeDefinition == "TEXT")
    assert(d.quoteIdentifier("a`b") == "`a``b`")
    d.register() // idempotent
    d.register()
  }
}
