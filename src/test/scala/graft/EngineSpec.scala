package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Minutes, Span}

import graft.engine.{Bookmarks, Geocode, Tables}
import graft.sources.Ingest

class EngineSpec extends SparkSpec with TimeLimits {
  import spark.implicits._

  private implicit val signaler: Signaler = ThreadSignaler

  test("ingest: CSV with schema, validation split, partitioned parquet") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ingest")
    java.nio.file.Files.writeString(tmp.resolve("raw.csv"),
      """sale_id,sale_price,sale_date
        |1,100.50,2024-01-05
        |2,-7.00,2024-02-10
        |3,250.00,2024-03-15
        |4,bogus,2024-04-01
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("sale_id", IntegerType),
      StructField("sale_price", DoubleType),
      StructField("sale_date", DateType)))
    val raw = Ingest.readCsv(spark, s"$tmp/raw.csv", schema)
    val (valid, quarantine) = Ingest.validateSplit(raw, Seq(
      "price_pos" -> (col("sale_price") > 0),
      "price_present" -> col("sale_price").isNotNull))
    assert(valid.select("sale_id").collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 3))
    val q = quarantine.select("sale_id", "violation").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(q(2) == "price_pos" && q(4) == "price_present") // null skips >0 check (three-valued), tagged by the null check
    Ingest.writeParquet(valid.withColumn("month", month(col("sale_date"))),
      s"$tmp/out", partitionBy = Seq("month"))
    val back = spark.read.parquet(s"$tmp/out")
    assert(back.count() == 2 && back.columns.contains("month"))
  }

  test("ingest: JSON-lines and ORC round-trip; malformed line quarantined as null_check") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_fmt")
    java.nio.file.Files.writeString(tmp.resolve("rows.jsonl"),
      """{"id": 1, "name": "a"}
        |{"id": 2, "name": "b"}
        |{"id": 3, "nam
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    val fromJson = Ingest.readJsonl(spark, s"$tmp/rows.jsonl", schema)
    assert(fromJson.count() == 3) // PERMISSIVE keeps the truncated line as nulls
    val (ok, bad) = Ingest.validateSplit(fromJson,
      Seq("name_nonempty" -> (length(col("name")) > 0))) // NULL name → NULL check
    assert(ok.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // the all-null malformed row is attributed, not silently null-tagged:
    // its check evaluates to NULL (not definitively false) → 'null_check'
    val q = bad.select("violation").collect().map(_.getString(0))
    assert(q.toSeq == Seq("null_check"))
    Ingest.writeOrc(ok.select("id", "name"), s"$tmp/orc")
    val back = Ingest.readOrc(spark, s"$tmp/orc")
    assert(back.schema == schema && back.count() == 2)
  }

  test("geocode: mapping-dim join resolves known addresses, nulls unknown") {
    val mapping = Seq(
      ("1 MAIN ST", "1000420007"),
      ("9 OCEAN AVE", "3001000055")).toDF("addr", "bbl10")
    val addrs = Seq("1 Main  St", "9 ocean ave", "5 Nowhere Rd").toDF("address")
    val r = Geocode.resolve(addrs, "address", mapping, "addr", "bbl10")
      .select("address", "bbl", "borough_code").collect()
      .map(x => x.getString(0) -> ((Option(x.getString(1)), if (x.isNullAt(2)) None else Some(x.getInt(2))))).toMap
    assert(r("1 Main  St") == ((Some("1-00042-0007"), Some(1))))
    assert(r("9 ocean ave") == ((Some("3-00100-0055"), Some(3))))
    assert(r("5 Nowhere Rd") == ((None, None)))
  }

  test("geocode connector: rate-limited driver lookups, cache table, at-most-once per key") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_geo").toString
    val cachePath = s"$tmp/geocode_cache"
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val called = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    // deterministic fake standing in for the HTTP client: MAIN ST
    // resolves, OCEAN AVE is an API miss (None), everything else resolves
    val resolver: String => Option[String] = { addr =>
      calls.incrementAndGet(); called.add(addr)
      if (addr.contains("OCEAN")) None else Some("1000420007")
    }
    val addrs = Seq("1 Main  St", "1 MAIN ST", "9 ocean ave", "5 Other Rd")
      .toDF("address") // two spellings of one key: dedup before the API

    val r1 = Geocode.resolveWithCache(addrs, "address", cachePath, resolver,
      maxLookups = 2, maxQps = 1000.0)
    // cap = 2: only the first two distinct keys (sorted) hit the API
    assert(calls.get == 2)
    assert(called.toArray.toSeq == Seq("1 MAIN ST", "5 OTHER RD"))
    val m1 = r1.select("address", "bbl").collect()
      .map(x => x.getString(0) -> Option(x.getString(1))).toMap
    assert(m1("1 Main  St") == Some("1-00042-0007"))
    assert(m1("1 MAIN ST") == Some("1-00042-0007"))
    assert(m1("9 ocean ave").isEmpty) // over cap this batch — unresolved

    // next batch: cached keys are NOT re-queried; the over-cap key is;
    // its API miss caches as null so batch 3 does zero lookups
    val r2 = Geocode.resolveWithCache(addrs, "address", cachePath, resolver,
      maxLookups = 10, maxQps = 1000.0)
    assert(calls.get == 3)
    assert(r2.filter(col("address") === "9 ocean ave")
      .select("bbl").head().isNullAt(0))
    Geocode.resolveWithCache(addrs, "address", cachePath, resolver,
      maxLookups = 10, maxQps = 1000.0).collect()
    assert(calls.get == 3) // fully cached — at-most-once per key held

    // pacing: 3 fresh keys at 50 QPS cannot finish faster than 2 gaps
    val fresh = Seq("2 A ST", "3 B ST", "4 C ST").toDF("address")
    val t0 = System.nanoTime()
    Geocode.resolveWithCache(fresh, "address", s"$tmp/cache2", resolver,
      maxLookups = 10, maxQps = 50.0).collect()
    assert((System.nanoTime() - t0) / 1e6 >= 40.0, "QPS pacing not applied")

    // URI-form cache path: existence goes through the Hadoop FileSystem
    // API, so a schemed path round-trips (java.io.File read "file:/..."
    // as permanently absent — the cache was written but never consulted)
    val uriCache = s"file:$tmp/cache3"
    val before = calls.get
    Geocode.resolveWithCache(fresh, "address", uriCache, resolver,
      maxLookups = 10, maxQps = 1000.0).collect()
    assert(calls.get == before + 3)
    Geocode.resolveWithCache(fresh, "address", uriCache, resolver,
      maxLookups = 10, maxQps = 1000.0).collect()
    assert(calls.get == before + 3, "schemed cache path was not consulted")
  }

  test("geocode connector under a FLAKY resolver: per-key failures " +
      "quarantine and retry next batch — never a job abort, never a " +
      "cached failure; replay after convergence is call-free") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_geoflaky")
      .toString
    val cachePath = s"$tmp/cache"
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val failuresLeft = new java.util.concurrent.atomic.AtomicInteger(2)
    // BAD RD times out twice, then heals; BROKE ST fails forever;
    // everything else resolves first try
    val resolver: String => Option[String] = { addr =>
      calls.incrementAndGet()
      if (addr.contains("BAD") && failuresLeft.getAndDecrement() > 0)
        throw new RuntimeException("simulated geocoder timeout")
      else if (addr.contains("BROKE"))
        throw new RuntimeException("simulated geocoder 500")
      else Some("1000420007")
    }
    val addrs = Seq("1 Good St", "2 Bad Rd", "3 Broke St").toDF("address")
    def bblOf(df: org.apache.spark.sql.DataFrame,
              a: String): Option[String] = {
      val r = df.filter(col("address") === a).select("bbl").head()
      Option(if (r.isNullAt(0)) null else r.getString(0))
    }
    // batch 1: the two failing keys quarantine, the good one resolves —
    // the batch itself never aborts
    val r1 = Geocode.resolveWithCache(addrs, "address", cachePath, resolver,
      maxLookups = 10, maxQps = 1000.0)
    assert(bblOf(r1, "1 Good St") == Some("1-00042-0007"))
    assert(bblOf(r1, "2 Bad Rd").isEmpty && bblOf(r1, "3 Broke St").isEmpty)
    assert(calls.get == 3)
    val q1 = Geocode.quarantine(spark, cachePath)
      .select("addr_key").collect().map(_.getString(0)).toSet
    assert(q1 == Set("2 BAD RD", "3 BROKE ST"))
    // batch 2: the good key is CACHED (no call); both failed keys retry
    // as fresh misses; BAD RD still fails (second timeout)
    val r2 = Geocode.resolveWithCache(addrs, "address", cachePath, resolver,
      maxLookups = 10, maxQps = 1000.0)
    assert(calls.get == 5)
    assert(bblOf(r2, "2 Bad Rd").isEmpty)
    // batch 3: BAD RD heals and converges; BROKE ST keeps failing but
    // keeps NOT being cached (it would never heal otherwise)
    val r3 = Geocode.resolveWithCache(addrs, "address", cachePath, resolver,
      maxLookups = 10, maxQps = 1000.0)
    assert(calls.get == 7)
    assert(bblOf(r3, "2 Bad Rd") == Some("1-00042-0007"))
    assert(bblOf(r3, "3 Broke St").isEmpty)
    // cache idempotence under replay: the healed key never re-queries
    val callsBefore = calls.get
    val r4 = Geocode.resolveWithCache(addrs, "address", cachePath, resolver,
      maxLookups = 10, maxQps = 1000.0)
    assert(calls.get == callsBefore + 1) // ONLY the still-broken key
    assert(bblOf(r4, "2 Bad Rd") == Some("1-00042-0007"))
    // the quarantine is the ops record: the healed key appears from its
    // failing era AND in the cache now; the broken key only accumulates
    val q = Geocode.quarantine(spark, cachePath)
    assert(q.filter(col("addr_key") === "3 BROKE ST").count() == 4L)
    assert(q.filter(col("addr_key") === "2 BAD RD").count() == 2L)
    assert(q.filter(col("error").contains("timeout")).count() == 2L)
  }

  test("bookmark toggle: add/remove with insertion order (server.py:548-552)") {
    val s0 = Seq.empty[String]
    val s1 = Bookmarks.toggle(s0, "1-42-7")
    val s2 = Bookmarks.toggle(s1, "3-100-55")
    val s3 = Bookmarks.toggle(s2, "1-42-7") // remove
    val s4 = Bookmarks.toggle(s3, "1-42-7") // re-add at end
    assert(s2 == Seq("1-42-7", "3-100-55"))
    assert(s3 == Seq("3-100-55"))
    assert(s4 == Seq("3-100-55", "1-42-7"))
  }

  test("streaming bookmark toggle via mapGroupsWithState") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Bookmarks.ToggleEvent]
    val q = Bookmarks.toggleStream(input.toDS())
      .writeStream.outputMode("update").format("memory")
      .queryName("bm_test").start()
    try {
      // fed out of seq order within the trigger: the fold must order
      // by seq, not by arrival (mapGroupsWithState guarantees nothing)
      input.addData(Bookmarks.ToggleEvent(1L, "b", 2L),
        Bookmarks.ToggleEvent(1L, "a", 1L),
        Bookmarks.ToggleEvent(2L, "x", 1L))
      q.processAllAvailable()
      input.addData(Bookmarks.ToggleEvent(1L, "a", 3L)) // toggle off
      q.processAllAvailable()
      val state = spark.table("bm_test")
        .groupBy($"userId").agg(last($"bbls").as("bbls"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(state(1L) == Seq("b"), "seq order: a then b, then a off")
      assert(state(2L) == Seq("x"))
    } finally q.stop()
  }

  test("extensions: custom expressions callable from SQL") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT simhash64(array('a','b')) AS sh,
        |size(minhash_signature(array('a','b'), 16)) AS msz,
        |size(winnow_fingerprints('abcdefghijklmnop', 8, 4)) AS wsz,
        |size(ngram_hashes(array('a','b','c','b','c'), 2)) AS ngd,
        |size(ngram_hashes_all(array('a','b','c','b','c'), 2)) AS nga,
        |hyperplane_signature(array(CAST(1.0 AS FLOAT), CAST(0.5 AS FLOAT)), 8) AS hp""".stripMargin)
      .collect().head
    assert(r.getLong(0) != 0L && r.getInt(1) == 16 && r.getInt(2) > 0)
    // 4 positional bigrams, 3 distinct ("b c" twice) — set vs multiplicity
    assert(r.getInt(3) == 3 && r.getInt(4) == 4)
    assert(r.getLong(5) >= 0L && r.getLong(5) < 256L)
  }

  test("extensions: table-level operators callable from SQL, plan-identical to the Column API") {
    import graft.operators.{Profiling, Joins, TimeSeries}
    GraftExtensions.register(spark)
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    ev.createOrReplaceTempView("sql_ev")

    // every SQL call must return EXACTLY what the Scala operator returns
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq).toSeq

    val skewSql = spark.sql(
      "SELECT * FROM graft_key_skew('sql_ev', 'user_id', 5)")
    assert(rows(skewSql) == rows(Profiling.keySkew(ev, "user_id", topK = 5)))

    val profSql = spark.sql(
      "SELECT * FROM graft_profile('sql_ev', 'user_id,value') ORDER BY column_name")
    assert(rows(profSql) ==
      rows(Profiling.profile(ev, Seq("user_id", "value")).orderBy("column_name")))

    val checkSql = spark.sql(
      """SELECT * FROM graft_check('sql_ev',
        |  'value nonneg', 'value >= 0',
        |  'user present', 'user_id IS NOT NULL')""".stripMargin)
    assert(rows(checkSql) == rows(Profiling.checkConstraints(ev, Seq(
      "value nonneg" -> (col("value") >= 0),
      "user present" -> col("user_id").isNotNull))))

    val sessSql = spark.sql(
      """SELECT * FROM graft_sessionize('sql_ev', 'user_id', 'ts',
        |  '30 minutes', 'count(1) as n_events') ORDER BY user_id, session_start""".stripMargin)
    assert(rows(sessSql) == rows(TimeSeries.sessionize(ev, "user_id", "ts",
        "30 minutes", Seq(count(lit(1)).as("n_events")))
      .orderBy("user_id", "session_start")))

    // as-of: each event enriched with the latest earlier event's value
    val l = ev.filter(col("event_id") % 2 === 0)
      .select(col("user_id"), col("event_id"), col("ts"))
    val rj = ev.filter(col("event_id") % 2 === 1)
      .select(col("user_id"), col("ts"), col("value"))
    l.createOrReplaceTempView("sql_asof_l")
    rj.createOrReplaceTempView("sql_asof_r")
    val asofSql = spark.sql(
      """SELECT * FROM graft_asof_join('sql_asof_l', 'sql_asof_r',
        |  'user_id', 'ts', 'ts', 'value') ORDER BY user_id, event_id""".stripMargin)
    assert(rows(asofSql) ==
      rows(Joins.asofJoin(l, rj, Seq("user_id"), "ts", "ts", Seq("value"))
        .orderBy("user_id", "event_id")))
    assert(asofSql.count() > 0)

    // malformed calls fail with usage guidance, not an internal error
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft_key_skew('sql_ev')").collect()
    }
    assert(e.getMessage.contains("graft_key_skew(table, keyCol"))
  }

  test("extensions: dedup family callable from SQL, row-identical to the Scala API") {
    import graft.operators.Dedup
    import spark.implicits._
    GraftExtensions.register(spark)
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (5L, "the quick brown fox jumps over the lazy dog tonight"), // = 1
      (3L, "the quick brown fox jumps over the lazy dog today"),   // near 1
      (7L, "completely different content about something else entirely"),
      (9L, "yet another unique document with its own words"))
      .toDF("doc_id", "text")
    corpus.createOrReplaceTempView("sql_docs")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq).toSeq

    val exactSql = spark.sql(
      "SELECT * FROM graft_exact_dedup('sql_docs', 'doc_id', 'text') ORDER BY doc_id")
    assert(rows(exactSql) ==
      rows(Dedup.exact(corpus, "doc_id", "text").orderBy("doc_id")))
    assert(exactSql.count() == 4) // 1/5 collapsed

    val pairsSql = spark.sql(
      """SELECT * FROM graft_minhash_pairs('sql_docs', 'doc_id', 'text',
        |  2, 16, 8) ORDER BY id1, id2""".stripMargin)
    assert(rows(pairsSql) ==
      rows(Dedup.minhashCandidatePairs(corpus, "doc_id", "text",
        shingleN = 2, numHashes = 16, bands = 8).orderBy("id1", "id2")))
    assert(pairsSql.filter($"id1" === 1L && $"id2" === 5L).count() == 1)

    // dedupCorpus is BUILD-style: the CC fixpoint runs while the SQL is
    // analyzed, exactly like the Scala call — results must still match
    val corpusSql = spark.sql(
      """SELECT * FROM graft_dedup_corpus('sql_docs', 'doc_id', 'text',
        |  0.6) ORDER BY doc_id""".stripMargin)
    spark.sharedState.cacheManager.clearCache() // the build persists; pair Scala run fresh
    assert(rows(corpusSql) ==
      rows(Dedup.dedupCorpus(corpus, "doc_id", "text", threshold = 0.6)
        .orderBy("doc_id")))
    assert(corpusSql.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 7L, 9L))

    val idxTmp = java.nio.file.Files.createTempDirectory("graft_sqlflag").toString
    Dedup.saveMinhashIndex(corpus.filter($"doc_id" <= 5L), idxTmp,
      "doc_id", "text", shingleN = 2, numHashes = 16, bands = 8)
    val newDocs = Seq((20L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    newDocs.createOrReplaceTempView("sql_newdocs")
    val flagSql = spark.sql(
      s"""SELECT * FROM graft_flag_index('sql_newdocs', '$idxTmp',
         |  'doc_id', 'text') ORDER BY doc_id, neighbor_id""".stripMargin)
    assert(rows(flagSql) ==
      rows(Dedup.flagAgainstIndex(newDocs, idxTmp, "doc_id", "text")
        .orderBy("doc_id", "neighbor_id")))
    // both exact copies (1, 5) and the near-dup variant (3) flag
    assert(flagSql.select("neighbor_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 3L, 5L))
    spark.sharedState.cacheManager.clearCache()
  }

  test("extensions: simhash + incremental dedup family callable from SQL, row-identical") {
    import graft.operators.Dedup
    import spark.implicits._
    GraftExtensions.register(spark)
    val hist = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "shared boilerplate terms of service text appears here"),
      (3L, "completely different content about something else entirely"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"),   // = 1
      (11L, "shared boilerplate terms of service text appears here"), // = 2
      (12L, "a genuinely novel document unlike any in history"),
      (13L, "a genuinely novel document unlike any in history"))      // internal dup
      .toDF("doc_id", "text")
    val corpus = hist.unionByName(batch)
    batch.createOrReplaceTempView("sql_batch")
    corpus.createOrReplaceTempView("sql_corpus")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq).toSeq

    val shSql = spark.sql(
      "SELECT * FROM graft_simhash_pairs('sql_corpus', 'doc_id', 'text') ORDER BY id1, id2")
    val shRows = rows(shSql)
    spark.sharedState.cacheManager.clearCache() // operator persists its band table
    assert(shRows == rows(Dedup.simhashNearDupPairs(corpus, "doc_id", "text")
      .orderBy("id1", "id2")))
    spark.sharedState.cacheManager.clearCache()
    // the three exact-copy pairs mine at hamming 0
    assert(shRows.filter(_(2) == 0L).map(r => (r(0), r(1))).toSet
      .intersect(Set[(Any, Any)]((1L, 10L), (2L, 11L), (12L, 13L))).size == 3)

    val dgTmp = java.nio.file.Files.createTempDirectory("graft_sqldg")
      .toString + "/digests"
    Dedup.saveDigestIndex(hist, dgTmp, "text")
    val exSql = spark.sql(
      s"SELECT * FROM graft_incremental_exact('sql_batch', '$dgTmp', 'doc_id', 'text') ORDER BY doc_id")
    assert(rows(exSql) ==
      rows(Dedup.incrementalExact(batch, dgTmp, "doc_id", "text").orderBy("doc_id")))
    // 10/11 seen in history, 13 loses to batch-internal 12
    assert(exSql.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(12L))

    val mhTmp = java.nio.file.Files.createTempDirectory("graft_sqlmh").toString
    Dedup.saveMinhashIndex(hist, mhTmp, "doc_id", "text",
      shingleN = 2, numHashes = 16, bands = 8)
    val imSql = spark.sql(
      s"SELECT * FROM graft_incremental_minhash('sql_batch', '$mhTmp', 'doc_id', 'text') ORDER BY id1, id2")
    val imRows = rows(imSql)
    spark.sharedState.cacheManager.clearCache()
    assert(imRows ==
      rows(Dedup.incrementalMinhashPairs(batch, mhTmp, "doc_id", "text")
        .orderBy("id1", "id2")))
    spark.sharedState.cacheManager.clearCache()
    assert(imRows.map(r => (r(0), r(1))).toSet.contains((1L, 10L)))

    val shTmp = java.nio.file.Files.createTempDirectory("graft_sqlsh").toString
    Dedup.saveSimhashIndex(hist, shTmp, "doc_id", "text")
    val isSql = spark.sql(
      s"SELECT * FROM graft_incremental_simhash('sql_batch', '$shTmp', 'doc_id', 'text') ORDER BY id1, id2")
    val isRows = rows(isSql)
    spark.sharedState.cacheManager.clearCache()
    assert(isRows ==
      rows(Dedup.incrementalSimhashPairs(batch, shTmp, "doc_id", "text")
        .orderBy("id1", "id2")))
    spark.sharedState.cacheManager.clearCache()
    // cross pairs (1,10), (2,11) and the batch-internal (12,13) all surface
    assert(isRows.map(r => (r(0), r(1))).toSet
      .intersect(Set[(Any, Any)]((1L, 10L), (2L, 11L), (12L, 13L))).size == 3)
  }

  test("extensions: similarity + text-pair family callable from SQL, row-identical") {
    import graft.operators.{Dedup, Similarity}
    import spark.implicits._
    GraftExtensions.register(spark)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 3)
    emb.createOrReplaceTempView("sql_emb")
    queries.createOrReplaceTempView("sql_emb_q")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq).toSeq

    val cosSql = spark.sql(
      """SELECT * FROM graft_cosine_topk('sql_emb', 'sql_emb_q',
        |  'vec_id', 'embedding', 5) ORDER BY query_id, rank""".stripMargin)
    assert(rows(cosSql) ==
      rows(Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")))

    val qSql = spark.sql(
      """SELECT * FROM graft_quantized_topk('sql_emb', 'sql_emb_q',
        |  'vec_id', 'embedding', 5) ORDER BY query_id, rank""".stripMargin)
    assert(rows(qSql) ==
      rows(Similarity.quantizedTopK(emb, queries, "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")))

    val rSql = spark.sql(
      """SELECT * FROM graft_rescored_topk('sql_emb', 'sql_emb_q',
        |  'vec_id', 'embedding', 5, 3) ORDER BY query_id, rank""".stripMargin)
    assert(rows(rSql) ==
      rows(Similarity.rescoredTopK(emb, queries, "vec_id", "embedding", k = 5,
        candidateFactor = 3).orderBy("query_id", "rank")))

    // scalar faces type-check at analysis: a SQL double-array literal
    // implicit-casts to array<float> (it would otherwise misread the
    // 8-byte double slots as floats), and an uncastable input is an
    // AnalysisException, not runtime garbage
    val litQ = spark.sql("SELECT quantize8(array(0.5D, -1.0D, 0.25D)) AS q")
      .collect()(0).getSeq[Byte](0)
    assert(litQ == Seq[Byte](64, -127, 32))
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT quantize8(map(1, 2))").collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT dot_i8(map(1, 2), map(3, 4))").collect()
    }

    // BUILD-style: k-means jobs run during analysis, like the Scala call
    val ivfSql = spark.sql(
      """SELECT * FROM graft_ivf_topk('sql_emb', 'sql_emb_q',
        |  'vec_id', 'embedding', 5, 8, 2) ORDER BY query_id, rank""".stripMargin)
    assert(rows(ivfSql) ==
      rows(Similarity.ivfTopK(emb, queries, "vec_id", "embedding", k = 5,
        nCells = 8, nProbe = 2).orderBy("query_id", "rank")))

    val lshSql = spark.sql(
      """SELECT * FROM graft_lsh_topk('sql_emb',
        |  'vec_id', 'embedding', 5, 6) ORDER BY query_id, rank""".stripMargin)
    assert(rows(lshSql) ==
      rows(Similarity.lshTopK(emb, "vec_id", "embedding", k = 5, prefixBits = 6)
        .orderBy("query_id", "rank")))

    val ndSql = spark.sql(
      """SELECT * FROM graft_embedding_neardups('sql_emb',
        |  'vec_id', 'embedding', 'label', 0.5) ORDER BY id1, id2""".stripMargin)
    assert(rows(ndSql) ==
      rows(Dedup.embeddingNearDups(emb, "vec_id", "embedding", "label", 0.5)
        .orderBy("id1", "id2")))

    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(60).cache()
    docs.createOrReplaceTempView("sql_sim_docs")
    val nnSql = spark.sql(
      """SELECT * FROM graft_ngram_top_neighbor('sql_sim_docs',
        |  'doc_id', 'text', 'lang') ORDER BY doc_id""".stripMargin)
    assert(rows(nnSql) ==
      rows(Dedup.ngramJaccardTopNeighbor(docs, "doc_id", "text", "lang")
        .orderBy("doc_id")))

    val dsSql = spark.sql(
      """SELECT * FROM graft_dup_spans('sql_sim_docs',
        |  'doc_id', 'text') ORDER BY id1, id2, start1""".stripMargin)
    assert(rows(dsSql) ==
      rows(Dedup.duplicateSpans(docs, "doc_id", "text")
        .orderBy("id1", "id2", "start1")))
    docs.unpersist()

    // misuse still reads as usage guidance
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft_lsh_topk('sql_emb', 'vec_id', 'embedding', 5)")
        .collect()
    }
    assert(e.getMessage.contains("graft_lsh_topk(corpus, idCol, vecCol, k, prefixBits"))
  }

  test("extensions: layout family callable from SQL, row-identical") {
    import graft.sources.Layout
    GraftExtensions.register(spark)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq).toSeq

    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    li.createOrReplaceTempView("sql_li")
    val dir = java.nio.file.Files.createTempDirectory("graft_sqlz").toString + "/data"

    val wSql = spark.sql(
      s"SELECT * FROM graft_zorder_write('sql_li', '$dir', 'l_shipdate', 'l_partkey', 8)")
    assert(rows(wSql) == Seq(Seq(dir, 8)))
    val uSql = spark.sql(
      s"SELECT * FROM graft_update_manifest('$dir', 'l_shipdate,l_partkey')")
    assert(rows(uSql) == Seq(Seq(dir, 8))) // statted all 8 fresh files
    // second update: nothing fresh
    assert(rows(spark.sql(
      s"SELECT * FROM graft_update_manifest('$dir', 'l_shipdate,l_partkey')"))
      == Seq(Seq(dir, 0)))

    val prSql = spark.sql(
      s"""SELECT l_returnflag, count(*) AS n FROM graft_pruned_read('$dir',
         |  'l_shipdate', '1996-01-01', '1996-12-31',
         |  'l_partkey', '10', '59')
         |GROUP BY 1 ORDER BY 1""".stripMargin)
    val scalaPr = Layout.prunedRead(spark, dir, Seq(
        Layout.ColRange("l_shipdate",
          org.apache.spark.sql.functions.lit("1996-01-01").cast("timestamp"),
          org.apache.spark.sql.functions.lit("1996-12-31").cast("timestamp")),
        Layout.ColRange("l_partkey",
          org.apache.spark.sql.functions.lit(10L).cast("bigint"),
          org.apache.spark.sql.functions.lit(59L).cast("bigint"))))
      .groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .orderBy("l_returnflag")
    assert(rows(prSql) == rows(scalaPr) && rows(prSql).nonEmpty)

    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_pruned_read('$dir', 'l_partkey', '1')")
        .collect()
    }
    assert(e2.getMessage.contains("graft_pruned_read(dataPath, col1, lo1, hi1"))
  }

  test("extensions: corpus-prep family callable from SQL, row-identical") {
    import graft.operators.Corpus
    GraftExtensions.register(spark)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq).toSeq
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(120).cache()
    docs.createOrReplaceTempView("sql_cp_docs")

    val cSql = spark.sql(
      """SELECT * FROM graft_chunk('sql_cp_docs', 'doc_id', 'text', 32, 24)
        |ORDER BY doc_id, chunk_idx""".stripMargin)
    assert(rows(cSql) ==
      rows(Corpus.chunk(docs, "doc_id", "text", 32, 24)
        .orderBy("doc_id", "chunk_idx")) && rows(cSql).nonEmpty)

    val pSql = spark.sql(
      """SELECT * FROM graft_pack('sql_cp_docs', 'lang', 'doc_id',
        |  'n_chars', 10000) ORDER BY doc_id""".stripMargin)
    assert(rows(pSql) ==
      rows(Corpus.packSequences(docs, "lang", "doc_id", "n_chars", 10000L)
        .orderBy("doc_id")) && rows(pSql).nonEmpty)

    val bSql = spark.sql(
      """SELECT * FROM graft_balance('sql_cp_docs', 'source', 'doc_id')
        |ORDER BY doc_id""".stripMargin)
    assert(rows(bSql) ==
      rows(Corpus.balanceStrata(docs, "source", "doc_id")
        .orderBy("doc_id")) && rows(bSql).nonEmpty)

    val sSql = spark.sql(
      """SELECT * FROM graft_shards('sql_cp_docs', 'doc_id', 8)
        |ORDER BY doc_id""".stripMargin)
    assert(rows(sSql) ==
      rows(Corpus.shardAssignment(docs, "doc_id", 8)
        .orderBy("doc_id")) && rows(sSql).nonEmpty)

    val wSql = spark.sql(
      """SELECT * FROM graft_weighted_sample('sql_cp_docs', 'doc_id',
        |  'n_chars', 0.5) ORDER BY doc_id""".stripMargin)
    assert(rows(wSql) ==
      rows(Corpus.weightedSample(docs, "doc_id", "n_chars", 0.5)
        .orderBy("doc_id")) && rows(wSql).nonEmpty)
    docs.unpersist()

    // misuse still reads as usage guidance
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft_pack('sql_cp_docs', 'lang')").collect()
    }
    assert(e.getMessage.contains(
      "graft_pack(table, shardCol, keyCol, tokenCol, budget)"))
  }

  test("extensions: prefix-selection family (token budget / keep-top / " +
       "dedup-best) callable from SQL, row-identical") {
    import graft.operators.{Corpus, Dedup}
    GraftExtensions.register(spark)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq).toSeq
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(150).cache()
    docs.createOrReplaceTempView("sql_ps_docs")
    import spark.implicits._
    val budgets = Seq("src0" -> 800L, "src1" -> 1200L)
    budgets.toDF("source", "budget").createOrReplaceTempView("sql_ps_budgets")

    val tSql = spark.sql(
      """SELECT * FROM graft_token_budget_fill('sql_ps_docs', 'source',
        |  'doc_id', 'text', 'sql_ps_budgets') ORDER BY doc_id""".stripMargin)
    assert(rows(tSql) ==
      rows(Corpus.tokenBudgetFill(docs, "source", "doc_id", "text", budgets)
        .orderBy("doc_id")) && rows(tSql).nonEmpty)

    val kSql = spark.sql(
      """SELECT * FROM graft_keep_top('sql_ps_docs', 'source', 'doc_id',
        |  'n_chars', 0.3) ORDER BY doc_id""".stripMargin)
    assert(rows(kSql) ==
      rows(Corpus.keepTopByGroup(docs, "source", "doc_id", "n_chars", 0.3)
        .orderBy("doc_id")) && rows(kSql).nonEmpty)

    val dSql = spark.sql(
      """SELECT * FROM graft_dedup_corpus_best('sql_ps_docs', 'doc_id',
        |  'text', 'n_chars', 0.8) ORDER BY doc_id""".stripMargin)
    assert(rows(dSql) ==
      rows(Dedup.dedupCorpusBest(docs, "doc_id", "text", "n_chars",
        threshold = 0.8).orderBy("doc_id")) && rows(dSql).nonEmpty)

    val eSql = spark.sql(
      """SELECT * FROM graft_epoch_fill('sql_ps_docs', 'source',
        |  'doc_id', 'text', 'sql_ps_budgets') ORDER BY doc_id""".stripMargin)
    assert(rows(eSql) ==
      rows(Corpus.epochFill(docs, "source", "doc_id", "text", budgets)
        .orderBy("doc_id")) && rows(eSql).nonEmpty)

    Corpus.epochFill(docs, "source", "doc_id", "text", budgets)
      .createOrReplaceTempView("sql_ps_manifest")
    val xSql = spark.sql(
      """SELECT * FROM graft_expand_copies('sql_ps_manifest', 'doc_id',
        |  'n_copies') ORDER BY doc_id, copy_idx""".stripMargin)
    assert(rows(xSql) ==
      rows(Corpus.expandCopies(
        Corpus.epochFill(docs, "source", "doc_id", "text", budgets),
        "doc_id", "n_copies").orderBy("doc_id", "copy_idx"))
      && rows(xSql).nonEmpty)

    Seq(("src0", 0.6), ("src1", 0.4)).toDF("source", "f")
      .createOrReplaceTempView("sql_ps_fracs")
    val mSql = spark.sql(
      """SELECT * FROM graft_mixture_fill('sql_ps_docs', 'source',
        |  'doc_id', 'text', 2000, 'sql_ps_fracs')
        |ORDER BY doc_id""".stripMargin)
    assert(rows(mSql) ==
      rows(Corpus.mixtureFill(docs, "source", "doc_id", "text", 2000L,
        Seq("src0" -> 0.6, "src1" -> 0.4)).orderBy("doc_id"))
      && rows(mSql).nonEmpty)

    val probes = docs.limit(3).select(col("doc_id").as("pid"), col("text"))
    probes.createOrReplaceTempView("sql_ps_probes")
    val cSql = spark.sql(
      """SELECT * FROM graft_contamination_report('sql_ps_docs',
        |  'sql_ps_probes', 'doc_id', 'pid', 'text', 3)
        |ORDER BY doc_id, probe_id""".stripMargin)
    assert(rows(cSql) ==
      rows(Corpus.contaminationReport(docs, probes, "doc_id", "pid",
        "text", n = 3).orderBy("doc_id", "probe_id"))
      && rows(cSql).nonEmpty)
    docs.unpersist()

    // misuse still reads as usage guidance; a malformed budgets frame
    // is refused with the two-column contract in the message
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft_keep_top('sql_ps_docs', 'source')")
        .collect()
    }
    assert(e.getMessage.contains(
      "graft_keep_top(table, groupCol, keyCol, scoreCol, fraction)"))
    val e2 = intercept[Exception] {
      spark.sql(
        """SELECT * FROM graft_token_budget_fill('sql_ps_docs', 'source',
          |  'doc_id', 'text', 'sql_ps_docs')""".stripMargin).collect()
    }
    assert(e2.getMessage.contains("exactly two columns"))
  }

  test("extensions: tombstone deletes, WAV features, N-dim zorder from SQL") {
    import graft.operators.{Dedup, Multimodal}
    GraftExtensions.register(spark)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq).toSeq

    // tombstone delete via SQL: flagging stops, receipt row returned
    val base = "the quick brown fox jumps over the lazy dog and runs home"
    val hist = Seq(1L -> base, 2L -> "unrelated words entirely different")
      .toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_sqlts")
      .toString + "/idx"
    Dedup.saveMinhashIndex(hist, path, "doc_id", "text", bands = 16)
    Seq(50L -> base).toDF("doc_id", "text")
      .createOrReplaceTempView("sql_ts_probe")
    Seq(Tuple1(1L)).toDF("doc_id").createOrReplaceTempView("sql_ts_ids")
    def flagged() = spark.sql(
      s"SELECT * FROM graft_flag_index('sql_ts_probe', '$path', 'doc_id', 'text')")
      .collect().map(_.getLong(1)).toSet
    assert(flagged() == Set(1L))
    val receipt = spark.sql(
      s"SELECT * FROM graft_delete_minhash('sql_ts_ids', '$path', 'doc_id')")
    assert(rows(receipt) == Seq(Seq(path)))
    assert(flagged() == Set.empty[Long])
    spark.sharedState.cacheManager.clearCache()

    // WAV features: SQL face row-identical to the Scala operator
    val media = Multimodal.withPcmColumn(
      Seq((7L, "hello world"), (8L, "abc")).toDF("doc_id", "text"),
      "doc_id", "text")
    media.createOrReplaceTempView("sql_ts_media")
    val wSql = spark.sql(
      "SELECT * FROM graft_wav_features('sql_ts_media') ORDER BY doc_id, channel")
    assert(rows(wSql) ==
      rows(Multimodal.wavChannelFeatures(media)
        .orderBy("doc_id", "channel")) && rows(wSql).nonEmpty)

    // video family SQL faces: each row-identical to its Scala twin
    val mp4Media = Multimodal.withMp4SampleColumn(
      Seq(3L, 9L).toDF("doc_id"), "doc_id")
    mp4Media.createOrReplaceTempView("sql_mp4_media")
    val mSql = spark.sql(
      "SELECT * FROM graft_mp4_frames('sql_mp4_media') " +
        "ORDER BY doc_id, frame_idx")
    assert(rows(mSql) == rows(Multimodal.mp4FrameTable(mp4Media)
      .orderBy("doc_id", "frame_idx")) && rows(mSql).nonEmpty)

    val mjMedia = Multimodal.withMjpegMp4Column(
      Seq(2L, 5L).toDF("doc_id"), "doc_id")
    mjMedia.createOrReplaceTempView("sql_mjpeg_media")
    val mjSql = spark.sql(
      "SELECT * FROM graft_mjpeg_mp4_frames('sql_mjpeg_media') " +
        "ORDER BY doc_id, frame_idx")
    assert(rows(mjSql) == rows(Multimodal.mjpegMp4FrameTable(mjMedia)
      .orderBy("doc_id", "frame_idx")) && rows(mjSql).nonEmpty)

    val aviMedia = Multimodal.withAviColumn(
      Seq(1L, 4L).toDF("doc_id"), "doc_id")
    aviMedia.createOrReplaceTempView("sql_avi_media")
    // synthesized AVI frames are filler, not JPEGs — the face must
    // plan and return the (empty) decodable-frame set, not throw
    val aSql = spark.sql(
      "SELECT * FROM graft_avi_frames('sql_avi_media')")
    assert(rows(aSql) == rows(Multimodal.aviFrameFeatures(aviMedia)))

    // 3-dim zorder write via the comma-list form + pruned read over it
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    li.createOrReplaceTempView("sql_ts_li")
    val dir = java.nio.file.Files.createTempDirectory("graft_sqlz3")
      .toString + "/data"
    assert(rows(spark.sql(
      s"""SELECT * FROM graft_zorder_write('sql_ts_li', '$dir',
         |  'l_shipdate,l_partkey,l_suppkey', 4)""".stripMargin))
      == Seq(Seq(dir, 4)))
    assert(rows(spark.sql(
      s"SELECT * FROM graft_update_manifest('$dir', 'l_shipdate,l_partkey,l_suppkey')"))
      == Seq(Seq(dir, 4)))
    val n = spark.sql(
      s"""SELECT count(*) AS n FROM graft_pruned_read('$dir',
         |  'l_suppkey', '1', '2')""".stripMargin).head().getLong(0)
    assert(n == li.filter(col("l_suppkey").between(1L, 2L)).count())
  }

  test("extensions: LM index scoring callable from SQL, row-identical") {
    import graft.operators.Corpus
    GraftExtensions.register(spark)
    import spark.implicits._
    val corpus = Seq((0L, "the cat sat"), (1L, "the cat sat"),
      (2L, "xq zv qqq")).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_sqllm").toString
    Corpus.saveLmStats(corpus, path, "doc_id", "text")
    corpus.createOrReplaceTempView("sql_lm_docs")
    val sqlR = spark.sql(
      s"""SELECT * FROM graft_lm_index_score('sql_lm_docs', '$path',
         |  'doc_id', 'text') ORDER BY doc_id""".stripMargin)
      .collect().map(_.toSeq).toSeq
    val scalaR = Corpus.lmScoreAgainstStats(corpus, path, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(sqlR == scalaR && sqlR.nonEmpty)

    // the HH index's read face, same row-identity contract
    import graft.operators.Profiling
    val hhPath = java.nio.file.Files.createTempDirectory("graft_sqlhh").toString
    Profiling.saveHhSketch(corpus.select($"text".as("v")), hhPath, "v", 8)
    val hhSql = spark.sql(s"SELECT * FROM graft_hh_merged('$hhPath')")
      .collect().map(_.toSeq).toSeq
    assert(hhSql == Profiling.mergedHeavyHitters(spark, hhPath)
      .collect().map(_.toSeq).toSeq && hhSql.nonEmpty)

    // the histogram index's read face, same row-identity contract
    val hiPath = java.nio.file.Files.createTempDirectory("graft_sqlhi").toString
    Profiling.saveHistogramIndex(corpus.select(length($"text").as("v")),
      hiPath, "v", bins = 4, lo = 0.0, hi = 20.0)
    val hiSql = spark.sql(s"SELECT * FROM graft_hist_merged('$hiPath')")
      .collect().map(_.toSeq).toSeq
    assert(hiSql == Profiling.mergedHistogramIndex(spark, hiPath)
      .collect().map(_.toSeq).toSeq && hiSql.nonEmpty)

    // the probe-gram index's read face
    val prPath = java.nio.file.Files.createTempDirectory("graft_sqlpr").toString
    Corpus.saveProbeGrams(corpus.filter($"doc_id" === 0L), prPath, "text", n = 2)
    val deSql = spark.sql(
      s"""SELECT doc_id FROM graft_decontaminate_index('sql_lm_docs',
         |  '$prPath', 'doc_id', 'text') ORDER BY doc_id""".stripMargin)
      .collect().map(_.getLong(0)).toSeq
    val deScala = Corpus.decontaminateAgainstIndex(corpus, prPath, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(deSql == deScala && deSql == Seq(2L)) // docs 0,1 share bigrams
  }

  test("extensions: partitioned layout lifecycle callable from SQL, " +
       "row-identical") {
    // on the leaf pool, with no catalog lock held: a write that ran at
    // analysis again would deadlock it, so the bound fails rather than
    // hangs the suite
    failAfter(Span(5, Minutes))(partitionedLifecycleFromSql())
  }

  private def partitionedLifecycleFromSql(): Unit = {
    import graft.sources.Layout
    import org.apache.spark.sql.functions.col
    GraftExtensions.register(spark)
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_sqlpart")
      .toString + "/root"
    val rows = (1L to 12L).map(i =>
      (i, if (i % 3 == 0) "b" else "a", i * 10L)).toDF("id", "k", "v")
    rows.createOrReplaceTempView("sql_part_rows")
    assert(spark.sql(
      s"""SELECT * FROM graft_zorder_write_partitioned('sql_part_rows',
         |  '$root', 'k', 'id,v', 2)""".stripMargin)
      .head().getInt(1) == 3) // files written: one curve segment spans k=a, k=b
    assert(spark.sql(
      s"SELECT * FROM graft_update_manifest_partitioned('$root', 'id,v')")
      .head().getInt(1) > 0)
    rows.filter($"id" <= 4).createOrReplaceTempView("sql_part_more")
    spark.sql(
      s"""SELECT * FROM graft_append_partitioned('sql_part_more',
         |  '$root', 'k', 'id,v', 2)""".stripMargin).collect()
    spark.sql(
      s"SELECT * FROM graft_update_manifest_partitioned('$root', 'id,v')")
      .collect()
    assert(spark.sql(
      s"SELECT * FROM graft_compact_partitioned('$root', 'id,v', 1, 2)")
      .head().getInt(1) >= 1)
    Seq(4L).toDF("id").createOrReplaceTempView("sql_part_doomed")
    spark.sql(
      s"""SELECT * FROM graft_delete_partitioned('sql_part_doomed',
         |  '$root', 'id,v', 'id')""".stripMargin).collect()
    val sqlRead = spark.sql(
      s"""SELECT id, k, v FROM graft_pruned_read_partitioned('$root',
         |  'id', '1', '10') ORDER BY id, k""".stripMargin)
      .collect().map(_.toSeq).toSeq
    val scalaRead = Layout.prunedReadPartitioned(spark, root, Seq(
        Layout.ColRange("id",
          org.apache.spark.sql.functions.lit("1").cast("bigint"),
          org.apache.spark.sql.functions.lit("10").cast("bigint"))))
      .select(col("id"), col("k"), col("v")).orderBy("id", "k")
      .collect().map(_.toSeq).toSeq
    assert(sqlRead == scalaRead && sqlRead.nonEmpty)
    // the takedown removed id=4 everywhere; appended dup ids remain
    assert(!sqlRead.exists(_.head == 4L))
    assert(spark.sql(
      s"SELECT * FROM graft_drop_partition('$root', 'k=b')")
      .head().getBoolean(1))
    assert(spark.sql(
      s"SELECT * FROM graft_pruned_read_partitioned('$root')")
      .select("k").distinct().collect().map(_.getString(0)).toSeq ==
      Seq("a"))
    // maintenance dry-run: listings only, matches the Scala twin
    val census = spark.sql(s"SELECT * FROM graft_leaf_census('$root')")
      .collect().map(_.toSeq).toSeq
    assert(census == graft.sources.Layout.leafCensus(spark, root)
      .collect().map(_.toSeq).toSeq)
    assert(census.map(_.head) == Seq("k=a") &&
      census.forall(_(3) == true))
  }

  test("extensions: splits, validation, skew join, PQ from SQL, " +
       "row-identical") {
    import graft.operators.{SkewJoin, Similarity, Splits, Validation}
    import org.apache.spark.sql.functions.{col, lit}
    GraftExtensions.register(spark)
    import spark.implicits._

    val docs = spark.range(200).select($"id")
    docs.createOrReplaceTempView("sql_split_ids")
    val sqlSplit = spark.sql(
      """SELECT id, split FROM graft_assign_split('sql_split_ids', 'id',
        |  'train:0.8,val:0.1,test:0.1') ORDER BY id""".stripMargin)
      .collect().map(_.toSeq).toSeq
    val scalaSplit = Splits.assignSplit(docs, "id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(sqlSplit == scalaSplit && sqlSplit.nonEmpty)
    assert(spark.sql(
      "SELECT DISTINCT fold FROM graft_assign_fold('sql_split_ids', 'id', 3)")
      .collect().map(_.getInt(0)).toSet == Set(0, 1, 2))

    val bpeDocs = Seq((1L, "low low low low low"), (2L, "lower lower"))
      .toDF("doc_id", "text")
    bpeDocs.createOrReplaceTempView("sql_bpe_docs")
    val sqlM = spark.sql(
      "SELECT * FROM graft_bpe_train('sql_bpe_docs', 'text', 3) ORDER BY rank")
      .collect().map(_.toSeq).toSeq
    val scalaM = graft.operators.Bpe.train(bpeDocs, "text", 3)
      .orderBy("rank").collect().map(_.toSeq).toSeq
    assert(sqlM == scalaM && sqlM.size == 3)
    val mergeSpec = scalaM.map(r => s"${r(1)}:${r(2)}").mkString(",")
    val sqlEnc = spark.sql(
      s"""SELECT * FROM graft_bpe_encode('sql_bpe_docs', 'doc_id',
         |  'text', '$mergeSpec') ORDER BY doc_id""".stripMargin)
      .collect().map(_.toSeq).toSeq
    assert(sqlEnc == graft.operators.Bpe.encode(bpeDocs, "doc_id",
      "text", scalaM.map(r => (r(1).toString, r(2).toString)))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq)
    assert(spark.sql(
      s"""SELECT * FROM graft_bpe_vocab('sql_bpe_docs', 'text',
         |  '$mergeSpec') ORDER BY token""".stripMargin)
      .collect().map(_.toSeq).toSeq ==
      graft.operators.Bpe.vocab(bpeDocs, "text",
        scalaM.map(r => (r(1).toString, r(2).toString)))
        .orderBy("token").collect().map(_.toSeq).toSeq)

    val docsB = Seq((1L, "NAV\none"), (2L, "NAV\ntwo"), (3L, "NAV\nthree"))
      .toDF("doc_id", "text")
    docsB.createOrReplaceTempView("sql_boiler_docs")
    val sqlBp = spark.sql(
      """SELECT * FROM graft_strip_boilerplate('sql_boiler_docs',
        |  'doc_id', 'text', 3) ORDER BY doc_id""".stripMargin)
      .collect().map(_.toSeq).toSeq
    val scalaBp = graft.operators.Corpus
      .stripBoilerplate(docsB, "doc_id", "text", minDocs = 3)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(sqlBp == scalaBp && sqlBp.map(_(1)) ==
      Seq("one", "two", "three"))

    val lkDir = java.nio.file.Files.createTempDirectory("graft_sqllk")
      .toString + "/t"
    graft.sources.Layout.writeZOrdered(
      spark.range(100).select($"id", ($"id" * 2).as("v")), lkDir,
      Seq("id", "v"), files = 4, bloomFor = Seq("id"))
    graft.sources.Layout.writeManifest(spark, lkDir, Seq("id", "v"))
    val sqlLk = spark.sql(
      s"SELECT * FROM graft_lookup('$lkDir', 'id', '3,7,99') ORDER BY id")
      .collect().map(_.toSeq).toSeq
    assert(sqlLk == Seq(Seq(3L, 6L), Seq(7L, 14L), Seq(99L, 198L)))

    val capEv = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:50:00")),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 02:30:00"))
    ).toDF("user_id", "tstamp")
    capEv.createOrReplaceTempView("sql_cap_ev")
    val sqlCap = spark.sql(
      """SELECT * FROM graft_capped_sessions('sql_cap_ev', 'user_id',
        |  'tstamp', '2 hours', '2 hours') ORDER BY session_start"""
        .stripMargin).collect().map(_.toSeq).toSeq
    assert(sqlCap == graft.streaming.Sessionize.cappedSessions(capEv,
      "user_id", "tstamp", "2 hours", "2 hours")
      .orderBy("session_start").collect().map(_.toSeq).toSeq)
    assert(sqlCap.size == 2)

    val messy = Seq((1L, 5.0), (2L, -1.0), (2L, 7.0))
      .toDF("id", "v")
    messy.createOrReplaceTempView("sql_val_rows")
    val sqlVal = spark.sql(
      """SELECT * FROM graft_validate('sql_val_rows',
        |  'not_null:id;in_range:v:0:10;unique:id')""".stripMargin)
      .collect().map(_.toSeq).toSeq
    val scalaVal = Validation.report(messy, Seq(
        Validation.NotNull("id"),
        Validation.InRange("v", lit(0.0), lit(10.0)),
        Validation.Unique(Seq("id"))))
      .collect().map(_.toSeq).toSeq
    assert(sqlVal == scalaVal && sqlVal.size == 3)

    // a colon-bearing regex is taken VERBATIM after the column name
    // (bounded split, ADVICE r9) — '^\d:\d$' would otherwise be
    // rejected as an unknown rule
    val clocky = Seq((1L, "1:2"), (2L, "99")).toDF("id", "hm")
    clocky.createOrReplaceTempView("sql_val_clock")
    val sqlRe = spark.sql(
      """SELECT * FROM graft_validate('sql_val_clock',
        |  'matches:hm:^\\d:\\d$')""".stripMargin)
      .collect().map(_.toSeq).toSeq
    assert(sqlRe == Validation.report(clocky, Seq(
        Validation.Matches("hm", "^\\d:\\d$")))
      .collect().map(_.toSeq).toSeq)
    assert(sqlRe.size == 1 && sqlRe.head(2) == 1L,
      "exactly the id=2 row fails the colon-bearing regex")
    // a trailing-colon typo (empty regex) must fail loudly, never build
    // an always-pass rlike("") rule
    val emptyRe = intercept[Exception] {
      spark.sql(
        "SELECT * FROM graft_validate('sql_val_clock', 'matches:hm:')")
        .collect()
    }
    assert(emptyRe.getMessage.contains("empty regex") ||
      Option(emptyRe.getCause).exists(_.getMessage.contains("empty regex")))

    Seq(1L, 3L).toDF("ref").createOrReplaceTempView("sql_val_dim")
    val sqlFk = spark.sql(
      """SELECT * FROM graft_validate_fk('sql_val_rows', 'id',
        |  'sql_val_dim', 'ref')""".stripMargin)
      .collect().map(_.toSeq).toSeq
    assert(sqlFk == Validation.report(messy, Seq(
        Validation.FkExists("id", Seq(1L, 3L).toDF("ref"), "ref")))
      .collect().map(_.toSeq).toSeq)
    assert(sqlFk.head(2) == 2L, "both id=2 rows are orphans")

    val fact = spark.range(300).select(($"id" % 3).as("k"), $"id".as("x"))
    val dim = spark.range(3).select($"id".as("k"),
      concat(lit("d"), $"id").as("nm"))
    fact.createOrReplaceTempView("sql_skew_fact")
    dim.createOrReplaceTempView("sql_skew_dim")
    val sqlJoin = spark.sql(
      """SELECT * FROM graft_skew_join('sql_skew_fact', 'sql_skew_dim',
        |  'k', 2) ORDER BY k, x""".stripMargin)
      .collect().map(_.toSeq).toSeq
    val scalaJoin = SkewJoin.joinSkewedAuto(fact, dim, "k", topN = 2)
      .orderBy("k", "x").collect().map(_.toSeq).toSeq
    assert(sqlJoin == scalaJoin && sqlJoin.size == 300)

    // ADVICE r11: SubqueryExpression does not surface its inner plan's
    // non-determinism through `deterministic`, so a fact view filtered
    // on a rand() scalar subquery used to probe as deterministic — and
    // the skew join skipped the persist that keeps detection and the
    // hot/cold branches on ONE snapshot. The probe must recurse into
    // subquery plans: the persist fires (cache non-empty) and rows are
    // neither dropped nor doubled.
    spark.sharedState.cacheManager.clearCache()
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW sql_skew_fact_nd AS
        |SELECT * FROM sql_skew_fact WHERE (SELECT rand()) >= 0
        |""".stripMargin)
    val sqlJoinNd = spark.sql(
      """SELECT * FROM graft_skew_join('sql_skew_fact_nd',
        |  'sql_skew_dim', 'k', 2) ORDER BY k, x""".stripMargin)
      .collect().map(_.toSeq).toSeq
    assert(!spark.sharedState.cacheManager.isEmpty,
      "a rand()-subquery fact must be pinned — the flat expression " +
        "scan missed subquery plans and skipped the persist")
    assert(sqlJoinNd == scalaJoin && sqlJoinNd.size == 300,
      "the always-true rand() filter changes nothing row-wise")
    spark.sharedState.cacheManager.clearCache()

    // the t-digest lifecycle from SQL text alone: per-batch sketches →
    // merge → quantile read; the merged median's exact rank must sit
    // inside the δ=100 bound over the union
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    li.filter($"l_orderkey" % 2 === 0).createOrReplaceTempView("sql_td_a")
    li.filter($"l_orderkey" % 2 =!= 0).createOrReplaceTempView("sql_td_b")
    spark.sql(
      """SELECT * FROM graft_tdigest_sketch('sql_td_a', 'l_extendedprice',
        |  'l_returnflag')""".stripMargin)
      .unionByName(spark.sql(
        """SELECT * FROM graft_tdigest_sketch('sql_td_b',
          |  'l_extendedprice', 'l_returnflag')""".stripMargin))
      .createOrReplaceTempView("sql_td_batches")
    val medians = spark.sql(
      """SELECT l_returnflag,
        |  tdigest_quantile(sketch, 0.5) AS med
        |FROM graft_tdigest_merge('sql_td_batches', 'sketch',
        |  'l_returnflag')""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(medians.size == 3)
    medians.foreach { case (flag, med) =>
      val vals = li.filter($"l_returnflag" === flag)
        .select($"l_extendedprice").as[Double].collect()
      val rank = vals.count(_ <= med).toDouble / vals.length
      assert(math.abs(rank - 0.5) <= 0.02,
        s"flag $flag: merged-sketch median $med has rank $rank")
    }

    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.createOrReplaceTempView("sql_pq_corpus")
    emb.filter($"vec_id" < 3).createOrReplaceTempView("sql_pq_queries")
    val sqlPq = spark.sql(
      """SELECT * FROM graft_pq_search('sql_pq_corpus', 'sql_pq_queries',
        |  'vec_id', 'embedding', 5, 4, 8)
        |ORDER BY query_id, rank""".stripMargin)
      .collect().map(_.toSeq).toSeq
    val scalaPq = Similarity.pqRescoredTopK(emb, emb.filter($"vec_id" < 3),
        "vec_id", "embedding", k = 5, m = 4, kCodes = 8)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(sqlPq == scalaPq && sqlPq.size == 15)

    val sqlIvfPq = spark.sql(
      """SELECT * FROM graft_ivfpq_search('sql_pq_corpus',
        |  'sql_pq_queries', 'vec_id', 'embedding', 5, 8, 4, 8)
        |ORDER BY query_id, rank""".stripMargin)
      .collect().map(_.toSeq).toSeq
    val (encX, centsX, booksX) = Similarity.ivfPqBuild(emb, "vec_id",
      "embedding", nCells = 8, m = 4, kCodes = 8)
    val scalaIvfPq = Similarity.exactRescore(emb,
        emb.filter($"vec_id" < 3), "vec_id", "embedding",
        Similarity.ivfPqSearch(encX, centsX, booksX,
          emb.filter($"vec_id" < 3), "vec_id", "embedding", k = 20),
        k = 5)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(sqlIvfPq == scalaIvfPq && sqlIvfPq.size == 15)
    encX.unpersist(blocking = false)
  }
}
