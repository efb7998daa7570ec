package graft

import graft.operators.Bucketed

/** Bucketed co-located join: pre-bucketed tables join with ZERO shuffle
  * while the unbucketed equivalent exchanges both sides.
  */
class BucketedSpec extends SparkSpec {
  import spark.implicits._

  test("join of two bucketed tables has no Exchange; unbucketed does") {
    val li = Tables(spark, sf001, "lineitem")
      .select($"l_orderkey", $"l_quantity", $"l_extendedprice")
    val ord = Tables(spark, sf001, "orders")
      .select($"o_orderkey".as("l_orderkey"), $"o_totalprice")

    Bucketed.writeBucketed(li, "li_bkt", "l_orderkey", buckets = 8)
    Bucketed.writeBucketed(ord, "ord_bkt", "l_orderkey", buckets = 8)

    // AQE can hide exchanges until execution — disable for plan asserts,
    // and disable broadcast so the join stays sort-merge on both paths
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val colocated = Bucketed.colocatedJoin(spark, "li_bkt", "ord_bkt", "l_orderkey")
      assert(Bucketed.countExchanges(colocated) == 0,
        "bucketed join must not shuffle")
      val shuffled = li.join(ord, "l_orderkey")
      assert(Bucketed.countExchanges(shuffled) == 2,
        "unbucketed sort-merge join shuffles both sides")
      // same results either way
      assert(colocated.count() == shuffled.count() && colocated.count() > 0)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        GraftSession.BroadcastThreshold)
      spark.sql("DROP TABLE IF EXISTS li_bkt")
      spark.sql("DROP TABLE IF EXISTS ord_bkt")
    }
  }

  test("registerBucketed re-attaches surviving data with bucketing intact") {
    val li = Tables(spark, sf001, "lineitem")
      .select($"l_orderkey", $"l_quantity")
    val ord = Tables(spark, sf001, "orders")
      .select($"o_orderkey".as("l_orderkey"), $"o_totalprice")
    Bucketed.writeBucketed(li, "li_reg", "l_orderkey", buckets = 8)
    Bucketed.writeBucketed(ord, "ord_reg", "l_orderkey", buckets = 8)
    val expected = Bucketed.colocatedJoin(spark, "li_reg", "ord_reg",
      "l_orderkey").count()

    // simulate the fresh-JVM arrival: the in-memory catalog entry is
    // gone but the warehouse data survives. DROP on a managed table
    // deletes its dir, so stash the data aside across the drop.
    val cat = spark.sessionState.catalog
    val parse = spark.sessionState.sqlParser.parseTableIdentifier _
    val loc = new org.apache.hadoop.fs.Path(
      cat.defaultTablePath(parse("li_reg")))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stash = new org.apache.hadoop.fs.Path(loc.getParent, "li_reg_stash")
    assert(fs.rename(loc, stash))
    spark.sql("DROP TABLE li_reg")
    assert(fs.rename(stash, loc))
    assert(!spark.catalog.tableExists("li_reg"))

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // no data for this name -> false, and nothing registered
      assert(!Bucketed.registerBucketed(spark, "li_reg_missing",
        "l_orderkey", 8))
      assert(!spark.catalog.tableExists("li_reg_missing"))
      // attach over the surviving dir: metadata-only, and the join is
      // as Exchange-free as it was in the writing session
      assert(Bucketed.registerBucketed(spark, "li_reg", "l_orderkey", 8))
      // idempotent once attached
      assert(Bucketed.registerBucketed(spark, "li_reg", "l_orderkey", 8))
      val j = Bucketed.colocatedJoin(spark, "li_reg", "ord_reg", "l_orderkey")
      assert(Bucketed.countExchanges(j) == 0,
        "re-registered bucketed join must not shuffle")
      assert(j.count() == expected)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        GraftSession.BroadcastThreshold)
      Bucketed.dropBucketed(spark, "li_reg")
      Bucketed.dropBucketed(spark, "ord_reg")
      assert(!fs.exists(loc), "dropBucketed removes external data too")
    }
  }

  test("bucket sidecar: self-configure, refuse mismatch, multi-file build") {
    val li = Tables(spark, sf001, "lineitem")
      .select($"l_orderkey", $"l_quantity")
    val ord = Tables(spark, sf001, "orders")
      .select($"o_orderkey".as("l_orderkey"), $"o_totalprice")
    // multi-file build mode: 2 files per bucket = 2x the write tasks
    Bucketed.writeBucketed(li, "li_sc", "l_orderkey", buckets = 8,
      filesPerBucket = 2)
    Bucketed.writeBucketed(ord, "ord_sc", "l_orderkey", buckets = 8)
    assert(Bucketed.bucketMeta(spark, "li_sc") === Some((8, "l_orderkey")))

    val cat = spark.sessionState.catalog
    val parse = spark.sessionState.sqlParser.parseTableIdentifier _
    val loc = new org.apache.hadoop.fs.Path(cat.defaultTablePath(parse("li_sc")))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataFiles = fs.listStatus(loc).filter(st => st.isFile &&
      !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
    assert(dataFiles.length == 16,
      s"8 buckets x 2 filesPerBucket should write 16 data files, " +
        s"got ${dataFiles.length}")

    val expected = li.join(ord, "l_orderkey").count()

    // fresh-JVM simulation: stash data across the managed-table drop
    val stash = new org.apache.hadoop.fs.Path(loc.getParent, "li_sc_stash")
    assert(fs.rename(loc, stash))
    spark.sql("DROP TABLE li_sc")
    assert(fs.rename(stash, loc))

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // explicit wrong count / wrong key: refused, nothing registered
      intercept[IllegalArgumentException] {
        Bucketed.registerBucketed(spark, "li_sc", "l_orderkey", 4)
      }
      intercept[IllegalArgumentException] {
        Bucketed.registerBucketed(spark, "li_sc", "l_quantity", 8)
      }
      assert(!spark.catalog.tableExists("li_sc"))
      // no buckets argument: self-configures from the sidecar, and the
      // multi-file layout still joins Exchange-free
      assert(Bucketed.registerBucketed(spark, "li_sc", "l_orderkey"))
      val j = Bucketed.colocatedJoin(spark, "li_sc", "ord_sc", "l_orderkey")
      assert(Bucketed.countExchanges(j) == 0,
        "self-configured multi-file bucketed join must not shuffle")
      assert(j.count() == expected)

      // pre-sidecar layout: file names are the only evidence — a count
      // the max bucket id refutes is rejected, a consistent one attaches
      spark.sql("DROP TABLE li_sc") // external now: data survives
      fs.delete(new org.apache.hadoop.fs.Path(loc, "_graft_buckets.json"),
        false)
      intercept[IllegalArgumentException] {
        Bucketed.registerBucketed(spark, "li_sc", "l_orderkey") // no evidence
      }
      intercept[IllegalArgumentException] {
        Bucketed.registerBucketed(spark, "li_sc", "l_orderkey", 4) // refuted
      }
      assert(Bucketed.registerBucketed(spark, "li_sc", "l_orderkey", 8))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        GraftSession.BroadcastThreshold)
      Bucketed.dropBucketed(spark, "li_sc")
      Bucketed.dropBucketed(spark, "ord_sc")
    }
  }
}
