package graft

import org.apache.spark.sql.functions._

import graft.operators.Corpus

class CorpusSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "alpha beta gamma delta epsilon", "en"),
    (1L, "alpha beta beta beta zeta", "en"),
    (2L, "uno dos tres cuatro", "es"),
    (3L, "uno uno uno", "es"),
    (4L, "", "en")
  ).toDF("doc_id", "text", "lang")

  test("hash sampling is deterministic and roughly proportional") {
    val big = (0L until 2000L).map(i => (i, s"doc $i")).toDF("id", "text")
    val a = Corpus.sampleByHash(big, "id", 0.3).select("id").collect().map(_.getLong(0)).toSet
    val b = Corpus.sampleByHash(big, "id", 0.3).select("id").collect().map(_.getLong(0)).toSet
    assert(a == b) // pure function of the key
    assert(a.size > 2000 * 0.2 && a.size < 2000 * 0.4) // ~30%
    // monotone: a smaller fraction keeps a subset of a larger one
    val small = Corpus.sampleByHash(big, "id", 0.1).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(a))
  }

  test("stratified sample takes exactly the quota per stratum (or all rows)") {
    val r = Corpus.stratifiedSample(docs, "lang", "doc_id", quota = 2)
      .groupBy("lang").count().collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r("en") == 2 && r("es") == 2)
    val all = Corpus.stratifiedSample(docs, "lang", "doc_id", quota = 100)
    assert(all.count() == 5) // quota above stratum size keeps everything
  }

  test("topTokens ranks by count desc with token tiebreak, lowercased") {
    val top = Corpus.topTokens(docs, "text", k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // beta 4, uno 4 → tiebreak beta first; alpha 2
    assert(top.toSeq == Seq(("beta", 4L), ("uno", 4L), ("alpha", 2L)))
  }

  test("topBigrams pairs adjacent tokens; <2-token docs contribute nothing") {
    val top = Corpus.topBigrams(docs, "text", k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // "beta beta" ×2 (doc 1), "uno uno" ×2 (doc 3), "alpha beta" ×2
    // (docs 0,1) → count tie at 2, bigram tiebreak; doc 4 (empty) silent
    assert(top.toSeq == Seq(("alpha beta", 2L), ("beta beta", 2L), ("uno uno", 2L)))
    val one = Seq((0L, "solo")).toDF("id", "text")
    assert(Corpus.topBigrams(one, "text", k = 10).count() == 0)
  }

  test("lmScore: in-distribution docs outscore rare-bigram docs; <2 tokens drop") {
    val corpus = Seq(
      (0L, "the cat sat"), (1L, "the cat sat"), (2L, "the cat sat"),
      (3L, "xq zv qqq"), // bigrams seen once each → low conditional prob
      (4L, "solo"), (5L, "")
    ).toDF("doc_id", "text")
    val r = Corpus.lmScore(corpus, "doc_id", "text").collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(!r.contains(4L) && !r.contains(5L)) // no bigrams → unscorable
    assert(r(0L) == r(1L) && r(1L) == r(2L))   // identical docs, same score
    assert(r(0L)._1 == 2 && r(3L)._1 == 2)
    assert(r(0L)._2 > r(3L)._2) // "the cat"×3 beats one-off junk bigrams
    // exact value, doc 0: V=7 (the,cat,sat,xq,zv,qqq,solo);
    // r("the cat") = (3+1)/(3+7), r("cat sat") = (3+1)/(3+7); mean = 0.4
    assert(math.abs(r(0L)._2 - 0.4) < 1e-15)
  }

  test("chunking: stride windows, clipped tail, empty doc yields no chunks") {
    val d = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")), (2L, ""))
      .toDF("doc_id", "text")
    val r = Corpus.chunk(d, "doc_id", "text", size = 4, stride = 3)
      .orderBy("doc_id", "chunk_idx").collect()
    assert(r.forall(_.getLong(0) == 1L)) // empty doc 2 emitted nothing
    // starts at tokens 1,4,7 (last start = greatest(10-3,1)=7): windows
    // t1-t4, t4-t7, t7-t10
    assert(r.map(_.getInt(1)).toSeq == Seq(0, 1, 2))
    assert(r.map(_.getInt(2)).toSeq == Seq(4, 4, 4))
    assert(r.map(_.getString(3)).toSeq == Seq(
      "t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"))
    // a doc shorter than one window still yields exactly one (clipped) chunk
    val short = Corpus.chunk(Seq((9L, "a b")).toDF("doc_id", "text"),
      "doc_id", "text", size = 4, stride = 3).collect()
    assert(short.length == 1 && short.head.getInt(2) == 2 &&
      short.head.getString(3) == "a b")
  }

  test("chunking covers a non-aligned tail with exactly one clipped chunk") {
    // 12 tokens, size 4, stride 3: full windows start at 1,4,7 (ends 10),
    // tokens 11-12 would be DROPPED without the tail rule; the next
    // stride-grid start 10 covers them with a 3-token clipped chunk, and
    // no further (redundant) window is emitted
    val d = Seq((1L, (1 to 12).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val r = Corpus.chunk(d, "doc_id", "text", size = 4, stride = 3)
      .orderBy("chunk_idx").collect()
    assert(r.map(_.getInt(2)).toSeq == Seq(4, 4, 4, 3))
    assert(r.last.getString(3) == "t10 t11 t12")
    // coverage invariant at an awkward size/stride (the ADVICE example:
    // 110 tokens, 64/48 — tokens 65..110 must appear in some chunk)
    val big = Seq((2L, (1 to 110).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val chunks = Corpus.chunk(big, "doc_id", "text", size = 64, stride = 48)
      .orderBy("chunk_idx").collect()
    assert(chunks.map(_.getInt(2)).toSeq == Seq(64, 62)) // starts 1 and 49
    val covered = chunks.flatMap(_.getString(3).split(" ")).toSet
    assert((1 to 110).forall(i => covered.contains(s"w$i")))
    // aligned end: no spurious extra chunk (160 = 97+64-1 exactly)
    val aligned = Seq((3L, (1 to 160).map(i => s"x$i").mkString(" "))).toDF("doc_id", "text")
    assert(Corpus.chunk(aligned, "doc_id", "text", size = 64, stride = 48)
      .count() == 3) // starts 1, 49, 97
  }

  test("decontamination drops any doc sharing an n-gram with the probe set") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),    // clean
      (11L, "one two three four five six seven"),      // contains probe 3-gram
      (12L, "totally unrelated words in this row"),    // clean
      (13L, "three four five surrounded by other stuff"), // same probe 3-gram
      (14L, "two words")                               // < n tokens: no grams
    ).toDF("doc_id", "text")
    val probes = Seq((99L, "zzz three four five qqq")).toDF("doc_id", "text")
    val kept = Corpus.decontaminate(corpus, probes, "doc_id", "text", n = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L, 12L, 14L))
    // a probe copy inside the corpus removes itself
    val withCopy = corpus.union(Seq((15L, "zzz three four five qqq")).toDF("doc_id", "text"))
    assert(!Corpus.decontaminate(withCopy, probes, "doc_id", "text", n = 3)
      .select("doc_id").collect().map(_.getLong(0)).contains(15L))
  }

  test("balanceStrata downsamples every stratum to the smallest one, deterministically") {
    val skewed = Seq(
      (1L, "a"), (2L, "a"), (3L, "a"), (4L, "a"), (5L, "a"),
      (6L, "b"), (7L, "b"),
      (8L, "c"), (9L, "c"), (10L, "c")
    ).toDF("doc_id", "source")
    val r = Corpus.balanceStrata(skewed, "source", "doc_id")
    val bySource = r.groupBy("source").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(bySource == Map("a" -> 2L, "b" -> 2L, "c" -> 2L)) // min stratum = 2
    // pure function of the keys: identical on re-run
    val a = r.select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Corpus.balanceStrata(skewed, "source", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("weightedSample favors heavy rows, drops zero/null weights, deterministic") {
    val docs = ((1L to 2000L).map { i =>
      // half the corpus at weight 100, half at weight 1000 (10x)
      (i, java.lang.Long.valueOf(if (i % 2 == 0) 100L else 1000L))
    } ++ Seq((3000L, java.lang.Long.valueOf(0L)),
      (3001L, null.asInstanceOf[java.lang.Long]))).toDF("doc_id", "w")
    val kept = Corpus.weightedSample(docs, "doc_id", "w", 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    // P(keep) = 0.5*w/wmax: heavy ~50%, light ~5%; zero/null never kept
    val heavy = kept.count(_._2 == 1000L)
    val light = kept.count(_._2 == 100L)
    assert(heavy > 400 && heavy < 600, s"heavy=$heavy")
    assert(light > 20 && light < 80, s"light=$light")
    assert(!kept.exists(k => k._1 >= 3000L))
    // weight == wmax reduces to the unweighted hash sample
    val uni = docs.filter(col("w") === 1000L)
    val a = Corpus.weightedSample(uni, "doc_id", "w", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Corpus.sampleByHash(uni, "doc_id", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("packSequences: packs start within budget, overrun only by the straddler") {
    val docs = (1L to 200L).map(i => (i, "s", 3L + (i % 7))).toDF("doc_id", "shard", "tok")
      .union(Seq((900L, "t", 100L), (901L, "t", 1L)).toDF("doc_id", "shard", "tok"))
    val packed = Corpus.packSequences(docs, "shard", "doc_id", "tok", budget = 20L)
      .collect()
      .map(r => (r.getString(1), r.getLong(3), r.getInt(4), r.getLong(0), r.getLong(2)))
    // reconstruct each shard's order from (pack_id, pack_pos) and check the
    // defining invariant: pack_id == floor(preceding-mass / budget)
    packed.groupBy(_._1).foreach { case (_, rows) =>
      var pre = 0L
      rows.sortBy(r => (r._2, r._3)).foreach { case (_, packId, _, _, tok) =>
        assert(packId == pre / 20L, s"row with pre=$pre in pack $packId")
        pre += tok
      }
    }
    // pack_pos is contiguous from 1 within each (shard, pack)
    packed.groupBy(r => (r._1, r._2)).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length))
    }
    // a single row larger than the budget still occupies exactly one pack
    val big = packed.filter(_._4 == 900L)
    assert(big.length == 1)
  }

  test("tfidf ranks rare terms above common ones, rational idf") {
    val corpus = Seq(
      (0L, "common common rare"),
      (1L, "common shared"),
      (2L, "common shared")
    ).toDF("doc_id", "text")
    val r = Corpus.tfidfTopTerms(corpus, "doc_id", "text", k = 2, docCount = 3L)
      .orderBy("doc_id", "rank").collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getString(2), x.getDouble(5)))
    // doc 0: rare (tf=1, df=1 → 1*4/2=2.0) beats common (tf=2, df=3 → 2*4/4=2.0)?
    // equal scores → term tiebreak asc: "common" first at 2.0, "rare" 2.0
    assert(r(0) == ((0L, 1, "common", 2.0)) && r(1) == ((0L, 2, "rare", 2.0)))
    // docs 1/2: shared (tf=1, df=2 → 4/3) beats common (tf=1, df=3 → 1.0)
    assert(r(2) == ((1L, 1, "shared", 4.0 / 3)) && r(3) == ((1L, 2, "common", 1.0)))
  }

  test("cumulative share: per-group running mass, weight-desc id-tiebreak order") {
    val df = Seq(
      ("s1", 1L, 50L), ("s1", 2L, 30L), ("s1", 3L, 20L),
      ("s2", 4L, 10L), ("s2", 5L, 10L), // tie → id order
      ("s3", 6L, 0L)                    // zero-mass group → share 1.0
    ).toDF("src", "id", "wt")
    val r = Corpus.cumulativeShare(df, "src", "wt", "id").collect()
      .map(x => x.getLong(1) -> (x.getInt(3), x.getDouble(4))).toMap
    assert(r(1L) == ((1, 0.5)) && r(2L) == ((2, 0.8)) && r(3L) == ((3, 1.0)))
    assert(r(4L) == ((1, 0.5)) && r(5L) == ((2, 1.0)))
    assert(r(6L) == ((1, 1.0)))
  }

  test("shardAssignment: every key exactly once, contiguous positions, stable manifest") {
    import spark.implicits._
    val docs = (1L to 200L).toDF("doc_id")
    val m = Corpus.shardAssignment(docs, "doc_id", nShards = 4)
      .select("doc_id", "shard_id", "shard_pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(m.length == 200 && m.map(_._1).distinct.length == 200)
    assert(m.forall(x => x._2 >= 0 && x._2 < 4))
    // positions are 1..n within each shard, no gaps, no dups
    m.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length))
    }
    // hash sharding spreads: no shard is empty or hoards >60% of 200 keys
    val sizes = m.groupBy(_._2).view.mapValues(_.length)
    assert(sizes.size == 4 && sizes.values.forall(n => n > 0 && n < 120))
    // deterministic: a re-run over a differently-partitioned input is
    // the SAME manifest (pure function of the key)
    val m2 = Corpus.shardAssignment(docs.repartition(7), "doc_id", 4)
      .select("doc_id", "shard_id", "shard_pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(m.sortBy(_._1).toSeq == m2.sortBy(_._1).toSeq)
  }

  test("incremental LM stats: append is additive, ledger blocks replays, " +
       "compaction preserves merged counts, scoring equals one-shot") {
    val hist = Seq((0L, "the cat sat"), (1L, "the cat sat"))
      .toDF("doc_id", "text")
    val batch = Seq((2L, "the cat sat"), (3L, "xq zv qqq"))
      .toDF("doc_id", "text")
    val all = hist.unionByName(batch)
    val path = java.nio.file.Files.createTempDirectory("graft_lm").toString

    Corpus.saveLmStats(hist, path, "doc_id", "text")
    assert(Corpus.appendLmStats(batch, path, "doc_id", "text", "b1"))
    // replay under the SAME id: skipped — counts must not double
    assert(!Corpus.appendLmStats(batch, path, "doc_id", "text", "b1"))

    def score(df: org.apache.spark.sql.DataFrame) =
      Corpus.lmScoreAgainstStats(df, path, "doc_id", "text")
        .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2)))
        .toMap
    val oneShot = Corpus.lmScore(all, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2)))
      .toMap
    // index over hist+batch ≡ one-shot over the union, bit for bit
    assert(score(all) == oneShot)
    // merged-count arithmetic, V = 6 (the,cat,sat,xq,zv,qqq): doc 0
    // scores mean((3+1)/(3+6), (3+1)/(3+6)) = 4/9
    assert(math.abs(score(all)(0L)._2 - 4.0 / 9.0) < 1e-15)

    // segment files exist pre-compaction; compaction changes NO count
    val segs = new java.io.File(s"$path/unigrams").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(segs >= 2, s"expected >=2 segment files, saw $segs")
    Corpus.compactLmStats(spark, path)
    val segsAfter = new java.io.File(s"$path/unigrams").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(segsAfter == 1)
    assert(score(all) == oneShot)

    // out-of-corpus grams smooth to (0+1)/(0+V) instead of erroring:
    // "nope nope2" has one bigram, unseen prefix → r = (0+1)/(0+6) = 1/6
    val foreign = score(Seq((99L, "nope nope2")).toDF("doc_id", "text"))
    assert(foreign(99L)._1 == 1)
    assert(math.abs(foreign(99L)._2 - 1.0 / 6.0) < 1e-15)

    // an append reads its batch and NO history: the records it reads
    // are the same over a 10-doc and a 1000-doc history
    def docs(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id").as("doc_id"),
        concat_ws(" ", lit("w"), (col("id") % 37).cast("string"),
          (col("id") % 11).cast("string")).as("text"))
    val fileBatch = s"$path/batch_file"
    docs(1000000L, 1000050L).write.parquet(fileBatch)
    val reads = Seq(10L, 1000L).map { n =>
      val p = s"$path/history_$n"
      Corpus.saveLmStats(docs(0L, n), p, "doc_id", "text")
      readDuring {
        assert(Corpus.appendLmStats(spark.read.parquet(fileBatch), p,
          "doc_id", "text", "b1"))
      }.records
    }
    assert(reads.distinct.size == 1 && reads.head > 0L,
      s"appends over 10- and 1000-doc histories read $reads records")
  }

  test("LM append converges after a crashed promotion; ledger scales without collecting") {
    import graft.operators.Ledger
    val hist = Seq((0L, "the cat sat")).toDF("doc_id", "text")
    val batch = Seq((2L, "the cat sat on the mat")).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_lmcrash").toString
    Corpus.saveLmStats(hist, path, "doc_id", "text")

    // simulate a crash that promoted ONE unigram file of batch "bX" but
    // never reached the bigrams or the ledger: plant a batch-tagged file
    // with bogus counts in the live unigram table
    val tag = "bX".getBytes("UTF-8").map("%02x".format(_)).mkString
    val bogus = Seq(("the", 1000000L)).toDF("tok", "c")
    bogus.coalesce(1).write.parquet(s"$path/unigrams_bogus")
    val part = new java.io.File(s"$path/unigrams_bogus").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$path/unigrams/batch_${tag}_0.parquet"))
    // the torn state is visible (counts inflated) ...
    val inflated = spark.read.parquet(s"$path/unigrams")
      .filter(col("tok") === "the")
      .agg(sum(col("c"))).head().getLong(0)
    assert(inflated > 1000000L)

    // ... and the RETRY of the same batch id heals it: partial files are
    // removed before promotion, so totals equal a clean save+append
    assert(Corpus.appendLmStats(batch, path, "doc_id", "text", "bX"))
    val healed = spark.read.parquet(s"$path/unigrams")
      .filter(col("tok") === "the")
      .agg(sum(col("c"))).head().getLong(0)
    assert(healed == 3L, s"expected 1 (hist) + 2 (batch), got $healed")
    // recorded: a replay is now a no-op
    assert(!Corpus.appendLmStats(batch, path, "doc_id", "text", "bX"))

    // ledger membership is a pushed filter, not a driver set: a 10k-id
    // ledger answers point checks and compacts to one file, rows intact
    val lp = s"$path/bigledger"
    Ledger.init(spark, lp)
    (1 to 10000).map(i => s"batch-$i").toDF("batch_id")
      .write.mode("append").parquet(lp)
    assert(Ledger.contains(spark, lp, "batch-9999"))
    assert(!Ledger.contains(spark, lp, "batch-10001"))
    Ledger.compact(spark, lp)
    assert(new java.io.File(lp).listFiles()
      .count(_.getName.endsWith(".parquet")) == 1)
    assert(spark.read.parquet(lp).count() == 10001L) // 10k + __base__
    assert(Ledger.contains(spark, lp, "batch-9999"))
  }

  test("probe-gram index: identical decisions to one-shot decontaminate; " +
       "n pinned by meta") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "beta gamma delta epsilon"), // shares trigram "beta gamma delta"
      (3L, "one two three four")).toDF("doc_id", "text")
    val probes = docs.filter($"doc_id" === 1L)
    val path = java.nio.file.Files.createTempDirectory("graft_probe").toString
    Corpus.saveProbeGrams(probes, path, "text", n = 3)
    val viaIndex = Corpus.decontaminateAgainstIndex(docs, path, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val direct = Corpus.decontaminate(docs, probes, "doc_id", "text", n = 3)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(viaIndex == direct)
    assert(viaIndex == Seq(3L)) // 1 self-removes, 2 shares a trigram
    // n comes from meta, not the caller — a re-save with different n
    // changes decisions without any probe re-supply at query time
    Corpus.saveProbeGrams(probes, path, "text", n = 4)
    val n4 = Corpus.decontaminateAgainstIndex(docs, path, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(n4 == Seq(2L, 3L)) // no shared 4-gram between docs 1 and 2
  }

  test("stripBoilerplate drops cross-doc template lines, keeps unique " +
       "and blank lines in order, and empties — never drops — fully-" +
       "boilerplate docs") {
    val docs = Seq(
      (1L, "NAV BAR\nunique one\n\nNAV BAR again no\nFOOTER"),
      (2L, "NAV BAR\nunique two\nFOOTER"),
      (3L, "NAV BAR\nunique three\nFOOTER"),
      (4L, "NAV BAR\nFOOTER"), // nothing survives
      (5L, "  \nonly body five") // blank line is never a candidate
    ).toDF("doc_id", "text")
    val got = Corpus.stripBoilerplate(docs, "doc_id", "text", minDocs = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq(
      (1L, "unique one\n\nNAV BAR again no"), // order + blank preserved
      (2L, "unique two"),
      (3L, "unique three"),
      (4L, ""),                               // present, emptied
      (5L, "  \nonly body five")))
    // a line in only minDocs-1 docs survives everywhere
    val docs2 = Seq((1L, "twice\na"), (2L, "twice\nb"), (3L, "c"))
      .toDF("doc_id", "text")
    val kept = Corpus.stripBoilerplate(docs2, "doc_id", "text", minDocs = 3)
      .orderBy("doc_id").collect().map(_.getString(1)).toSeq
    assert(kept == Seq("twice\na", "twice\nb", "c"))
    // multiplicity within ONE doc never promotes a line to boilerplate
    val docs3 = Seq((1L, "x\nx\nx\nx"), (2L, "x\ny"), (3L, "z"))
      .toDF("doc_id", "text")
    assert(Corpus.stripBoilerplate(docs3, "doc_id", "text", minDocs = 3)
      .orderBy("doc_id").collect().map(_.getString(1)).toSeq ==
      Seq("x\nx\nx\nx", "x\ny", "z")) // only 2 DISTINCT docs hold x
  }

  // --- r12 review hardening ------------------------------------------

  test("chunk with stride > size (gapped sampling) never emits the " +
       "phantom trailing chunk") {
    val docs = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val out = Corpus.chunk(docs, "doc_id", "text", size = 2, stride = 5)
      .orderBy("chunk_idx").collect()
    assert(out.forall(_.getInt(2) > 0),
      "no zero/negative token counts")
    assert(out.forall(_.getString(3).nonEmpty), "no empty chunk text")
    assert(out.map(_.getString(3)).toSeq == Seq("a b", "f g"),
      "the stride grid samples inside the document only")
  }

  test("weightedSample refuses weights past the integer-arithmetic " +
       "bound loudly instead of scrambling membership") {
    val ok = Seq(("a", 10L), ("b", 1L)).toDF("k", "w")
    Corpus.weightedSample(ok, "k", "w", 0.5).collect() // sane: runs
    val huge = Seq(("a", 10000000000000L)).toDF("k", "w")
    val e = intercept[Exception] {
      Corpus.weightedSample(huge, "k", "w", 0.5).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("overflow")))
  }

  test("stripBoilerplate preserves the caller's metadata columns") {
    val docs = Seq((1L, "nav\nbody one", "web"), (2L, "nav\nbody two", "web"),
      (3L, "nav\nbody three", "books")).toDF("doc_id", "text", "source")
    val out = Corpus.stripBoilerplate(docs, "doc_id", "text", minDocs = 3)
    assert(out.columns.toSet == Set("doc_id", "source", "text"),
      "metadata columns must survive the strip")
    val r = out.orderBy("doc_id").collect()
    assert(r.map(_.getAs[String]("source")).toSeq ==
      Seq("web", "web", "books"))
    assert(r.map(_.getAs[String]("text")).toSeq ==
      Seq("body one", "body two", "body three"))
  }

  test("tokenBudgetFill keeps the deterministic hash-order prefix per " +
       "budgeted group and drops unbudgeted groups and null keys") {
    val corpus = Seq(
      (Some(1L), "a b c", "web"),      // 3 tokens
      (Some(2L), "d e", "web"),        // 2
      (Some(3L), "f g h i", "web"),    // 4
      (Some(4L), "j", "web"),          // 1
      (Some(5L), "k l m", "code"),     // 3
      (Some(6L), null, "code"),        // null text = 0 tokens
      (None, "x y z", "web"),          // null key: dropped
      (Some(7L), "p q", "books")       // no budget entry: dropped
    ).toDF("doc_id", "text", "source")
    // naive single-window ground truth over the same (hash, id) order
    val h = Corpus.hashBucket(col("doc_id"), 1000000L)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(h, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val budgets = Seq("web" -> 6L, "code" -> 100L)
    val naive = corpus.filter(col("doc_id").isNotNull)
      .filter(col("source").isin("web", "code"))
      .withColumn("cum", sum(coalesce(
        size(graft.operators.TextAnalysis.tokens(col("text"))).cast("long"),
        lit(0L))).over(w))
      .filter(col("cum") <= when(col("source") === "web", 6L).otherwise(100L))
      .select("doc_id", "cum").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val out = Corpus.tokenBudgetFill(corpus, "source", "doc_id", "text",
      budgets)
    assert(out.columns.toSet ==
      Set("doc_id", "text", "source", "n_tokens", "cum_tokens"))
    val got = out.select("doc_id", "cum_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == naive, s"binned cumsum diverged: got $got want $naive")
    assert(!got.contains(7L), "unbudgeted group must be dropped")
    // monotone: a larger budget extends the kept prefix, never reshuffles
    val bigger = Corpus.tokenBudgetFill(corpus, "source", "doc_id", "text",
        Seq("web" -> 8L, "code" -> 100L))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.keySet.subsetOf(bigger))

    // the scale claim: one dominant group stays parallel. On a one-group
    // corpus the plain window's shuffle hands every row to ONE task; the
    // widest task of ANY stage of the binned cumsum holds a fraction of
    // them. Its per-group bin-offset window is one task too, but over at
    // most 4096 bin totals whatever the corpus holds, so the corpus is
    // ten times that. Adaptive execution is off so partition coalescing
    // cannot merge the tasks.
    val n = 40000L
    val oneGroup = spark.range(0L, n).select(col("id").as("doc_id"),
      lit("a b c").as("text"), lit("web").as("source"))
    def maxRowsPerTask(df: org.apache.spark.sql.DataFrame): Long =
      readDuring(df.write.format("noop").mode("overwrite").save())
        .shuffleRecords.values.flatten.max
    val (binnedMax, windowMax) =
      withConf(Seq("spark.sql.adaptive.enabled" -> "false")) {
        (maxRowsPerTask(Corpus.tokenBudgetFill(oneGroup, "source",
            "doc_id", "text", Seq("web" -> 60000L))),
          maxRowsPerTask(oneGroup.withColumn("cum", sum(lit(3L)).over(w))
            .filter(col("cum") <= 60000L)))
      }
    assert(windowMax == n && binnedMax * 2 < n,
      s"widest task: binned $binnedMax rows, plain window $windowMax")
  }

  test("tokenBudgetFill matches a plain-window cumsum on a randomized " +
       "skewed corpus (bin/offset arithmetic end to end)") {
    val rnd = new scala.util.Random(42)
    val rows = (0L until 600L).map { i =>
      val grp = if (i % 10 < 8) "big" else if (i % 10 == 8) "mid" else "tiny"
      (i, Seq.fill(1 + rnd.nextInt(7))("t").mkString(" "), grp)
    }
    val df = rows.toDF("doc_id", "text", "source")
    val budgets = Seq("big" -> 900L, "mid" -> 80L, "tiny" -> 0L)
    val h = Corpus.hashBucket(col("doc_id"), 1000000L)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(h, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val bcol = when(col("source") === "big", 900L)
      .when(col("source") === "mid", 80L).otherwise(0L)
    val naive = df
      .withColumn("cum", sum(size(split(col("text"), " ")).cast("long")).over(w))
      .filter(col("cum") <= bcol)
      .select("doc_id", "cum").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Corpus.tokenBudgetFill(df, "source", "doc_id", "text", budgets)
      .select("doc_id", "cum_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == naive)
    assert(got.nonEmpty, "the randomized corpus must keep something")
  }

  test("prefix-selection family: null text counts 0 tokens even with " +
       "ANSI off (size(null) is -1 there), and collisions with the " +
       "operators' output/scratch columns are refused loudly") {
    val corpus = Seq((1L, Some("a b"), "g"), (2L, None, "g"),
      (3L, Some("c"), "g")).toDF("doc_id", "text", "source")
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "false")
      val ordered = Corpus.tokenBudgetFill(corpus, "source", "doc_id",
          "text", Seq("g" -> 10L))
        .orderBy(Corpus.hashBucket(col("doc_id"), 1000000L), col("doc_id"))
        .select("doc_id", "n_tokens", "cum_tokens").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val got = ordered.map(t => t._1 -> ((t._2, t._3))).toMap
      assert(got.values.forall(_._1 >= 0L),
        s"a -1 token count leaked through ANSI-off size(null): $got")
      assert(got(2L)._1 == 0L, s"null text must weigh 0, got $got")
      // the cumsum never decreases along the ACTUAL selection order
      // (hash, id) — a -1 null-text weight would dip it
      val cums = ordered.map(_._3)
      assert(cums.zip(cums.drop(1)).forall { case (a, b) => a <= b },
        s"cum_tokens dipped along the selection order: ${cums.toSeq}")
      val ep = Corpus.epochFill(corpus, "source", "doc_id", "text",
          Seq("g" -> 10L))
        .select("doc_id", "n_tokens").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(ep(2L) == 0L, s"epochFill null text must weigh 0, got $ep")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
    // output/scratch column collisions are refused, not overwritten
    val poisoned = corpus.withColumn("n_tokens", lit(99L))
    val e1 = intercept[IllegalArgumentException] {
      Corpus.tokenBudgetFill(poisoned, "source", "doc_id", "text",
        Seq("g" -> 10L))
    }
    assert(e1.getMessage.contains("n_tokens"))
    val e2 = intercept[IllegalArgumentException] {
      Corpus.epochFill(corpus.withColumn("__cum", lit(1L)), "source",
        "doc_id", "text", Seq("g" -> 10L))
    }
    assert(e2.getMessage.contains("__cum"))
    val e3 = intercept[IllegalArgumentException] {
      Corpus.keepTopByGroup(corpus.withColumn("dom_rank", lit(1L)),
        "source", "doc_id", "doc_id", 0.5)
    }
    assert(e3.getMessage.contains("dom_rank"))
    // CASE-VARIANT collisions are refused too: Spark resolves columns
    // case-insensitively by default, so withColumn("n_tokens", ...)
    // would silently replace a caller's N_TOKENS
    val e4 = intercept[IllegalArgumentException] {
      Corpus.tokenBudgetFill(corpus.withColumn("N_TOKENS", lit(99L)),
        "source", "doc_id", "text", Seq("g" -> 10L))
    }
    assert(e4.getMessage.contains("n_tokens"))
  }

  test("mixtureFill: fractions of one total budget ≡ tokenBudgetFill on " +
       "the floored absolute budgets; over-committed specs are refused") {
    val corpus = Seq(
      (1L, "a b c", "web"), (2L, "d e f g", "web"),
      (3L, "h i", "code"), (4L, "j k l", "code")
    ).toDF("doc_id", "text", "source")
    val viaFractions = Corpus.mixtureFill(corpus, "source", "doc_id",
        "text", totalBudget = 10L, Seq("web" -> 0.65, "code" -> 0.35))
      .select("doc_id", "cum_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaAbsolute = Corpus.tokenBudgetFill(corpus, "source", "doc_id",
        "text", Seq("web" -> 6L, "code" -> 3L)) // floor(0.65*10), floor(0.35*10)
      .select("doc_id", "cum_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaFractions == viaAbsolute && viaFractions.nonEmpty)
    intercept[IllegalArgumentException] {
      Corpus.mixtureFill(corpus, "source", "doc_id", "text", 10L,
        Seq("web" -> 0.7, "code" -> 0.5)) // sums to 1.2
    }
    intercept[IllegalArgumentException] {
      Corpus.mixtureFill(corpus, "source", "doc_id", "text", 10L,
        Seq("web" -> -0.1))
    }
    // headroom-reserving specs (sum < 1) are legitimate
    assert(Corpus.mixtureFill(corpus, "source", "doc_id", "text", 10L,
      Seq("web" -> 0.5)).count() > 0)
  }

  test("byWeight fills: equal to the text forms when the weight IS the " +
       "token count; null weight = 0; negative weight fails in-plan") {
    val corpus = Seq(
      (1L, "a b c", "g"), (2L, "d e", "g"), (3L, "f", "g"),
      (4L, "h i j k", "g")
    ).toDF("doc_id", "text", "source")
      .withColumn("tok_n", size(split(col("text"), " ")).cast("long"))
    val budgets = Seq("g" -> 6L)
    val byText = Corpus.tokenBudgetFill(corpus, "source", "doc_id",
        "text", budgets)
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val byW = Corpus.tokenBudgetFillByWeight(corpus, "source", "doc_id",
        "tok_n", budgets)
      .select(col("doc_id"), col("fill_weight"), col("cum_weight")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(byText == byW && byW.nonEmpty,
      s"byWeight over the token count diverged: $byW vs $byText")
    val eText = Corpus.epochFill(corpus, "source", "doc_id", "text",
        Seq("g" -> 25L))
      .select(col("doc_id"), col("n_copies")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val eW = Corpus.epochFillByWeight(corpus, "source", "doc_id", "tok_n",
        Seq("g" -> 25L))
      .select(col("doc_id"), col("n_copies")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(eText == eW && eW.nonEmpty)
    // null weight consumes nothing; a negative weight is refused in-plan
    val withNull = Seq((1L, Some(3L), "g"), (2L, None, "g"))
      .toDF("doc_id", "w", "source")
    val nw = Corpus.tokenBudgetFillByWeight(withNull, "source", "doc_id",
        "w", Seq("g" -> 3L))
      .select("doc_id", "fill_weight").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nw == Map(1L -> 3L, 2L -> 0L), s"got $nw")
    val neg = Seq((1L, -5L, "g")).toDF("doc_id", "w", "source")
    val e = intercept[Exception] {
      Corpus.tokenBudgetFillByWeight(neg, "source", "doc_id", "w",
        Seq("g" -> 10L)).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("negative")))
  }

  test("keepTopByGroup drops NaN/Inf scores like nulls instead of letting " +
       "one poison the whole group's bins") {
    val df = Seq(
      (1L, 3.0, "g"), (2L, 2.0, "g"), (3L, Double.NaN, "g"),
      (4L, Double.PositiveInfinity, "g"), (5L, 1.0, "g"),
      (6L, Double.NegativeInfinity, "g")
    ).toDF("doc_id", "score", "source")
    // 3 finite rows; ceil(0.5*3) = 2 → ids 1, 2 — the NaN/±Inf rows
    // neither rank nor crash nor delete the group
    val got = Corpus.keepTopByGroup(df, "source", "doc_id", "score", 0.5)
      .select("doc_id", "dom_rank").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L), s"got $got")
  }

  test("tokenBudgetFill refuses empty, negative, and duplicate budgets") {
    val df = Seq((1L, "a", "g")).toDF("doc_id", "text", "source")
    intercept[IllegalArgumentException] {
      Corpus.tokenBudgetFill(df, "source", "doc_id", "text", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Corpus.tokenBudgetFill(df, "source", "doc_id", "text", Seq("g" -> -1L))
    }
    intercept[IllegalArgumentException] {
      Corpus.tokenBudgetFill(df, "source", "doc_id", "text",
        Seq("g" -> 1L, "g" -> 2L))
    }
  }

  test("contaminationReport: (doc, probe, shared-gram) pairs agree with " +
       "decontaminate's drop set; clean docs and probes self-report") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta"),        // shares 'alpha beta gamma' w/ probe
      (2L, "completely clean document text"),
      (3L, "zz alpha beta gamma yy"),        // same probe gram, mid-doc
      (10L, "alpha beta gamma probe body")   // the probe itself, in-corpus
    ).toDF("doc_id", "text")
    val probes = corpus.filter(col("doc_id") === 10L)
      .select(col("doc_id").as("pid"), col("text"))
    val rep = Corpus.contaminationReport(corpus, probes, "doc_id", "pid",
      "text", n = 3)
    val got = rep.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // doc 1 and 3 each share exactly one distinct 3-gram with the probe;
    // the probe self-reports all three of its own grams; doc 2 is absent
    assert(got == Map((1L, 10L) -> 1L, (3L, 10L) -> 1L, (10L, 10L) -> 3L),
      s"got $got")
    // the report's distinct doc set IS decontaminate's drop set
    val dropped = corpus.select("doc_id").except(
      Corpus.decontaminate(corpus, probes.withColumnRenamed("pid", "doc_id"),
        "doc_id", "text", n = 3).select("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(rep.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet == dropped)
    intercept[IllegalArgumentException] {
      Corpus.contaminationReport(
        corpus.withColumnRenamed("doc_id", "probe_id"), probes,
        "probe_id", "pid", "text")
    }
  }

  test("epochFill: whole epochs by integral division + remainder prefix; " +
       "sub-epoch budgets degrade to tokenBudgetFill membership") {
    val corpus = Seq(
      (1L, "a b c", "web"),      // 3 tokens
      (2L, "d e", "web"),        // 2
      (3L, "f", "web"),          // 1  → web total 6
      (4L, "k l m", "code"),     // 3
      (5L, "n o p", "code"),     // 3  → code total 6
      (6L, "q r", "zero")        // budgeted group below, but absent here
    ).toDF("doc_id", "text", "source")
    // web budget 20 = 3 whole epochs (18) + remainder 2: the hash-order
    // prefix of web that fits 2 tokens gets a 4th copy; code budget 4 is
    // SUB-epoch: epochs 0, kept set = tokenBudgetFill(4)
    val out = Corpus.epochFill(corpus, "source", "doc_id", "text",
      Seq("web" -> 20L, "code" -> 4L))
    val got = out.select("doc_id", "n_copies").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every web doc has >= 3 copies; total extra copies carry <= 2 tokens
    assert(Set(1L, 2L, 3L).forall(id => got(id) >= 3L && got(id) <= 4L))
    val extraTokens = Map(1L -> 3L, 2L -> 2L, 3L -> 1L)
      .collect { case (id, tk) if got(id) == 4L => tk }.sum
    assert(extraTokens <= 2L, s"remainder must fit the leftover budget: $got")
    // code: sub-epoch — membership identical to tokenBudgetFill
    val tbf = Corpus.tokenBudgetFill(corpus, "source", "doc_id", "text",
        Seq("code" -> 4L)).select("doc_id").collect().map(_.getLong(0)).toSet
    val codeKept = got.keySet.filter(Set(4L, 5L))
    assert(codeKept == tbf && codeKept.forall(got(_) == 1L))
    // zero-token budgeted groups are dropped, not divided by zero
    val z = Seq((9L, "", "empty"), (10L, null, "empty"))
      .toDF("doc_id", "text", "source")
    assert(Corpus.epochFill(z, "source", "doc_id", "text",
      Seq("empty" -> 100L)).count() == 0L)
  }

  test("expandCopies: one row per copy, 1-based copy_idx, deterministic " +
       "shuffle key; the in-plan cap fires on a corrupted manifest") {
    val manifest = Seq((1L, 3L), (2L, 1L), (3L, 0L), (4L, -2L))
      .toDF("doc_id", "n_copies")
    val out = Corpus.expandCopies(manifest, "doc_id", "n_copies")
      .select("doc_id", "copy_idx", "shuffle_key")
      .orderBy("doc_id", "copy_idx").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L)))
    // shuffle_key is a pure function of (key, copy_idx): recompute
    val expected = Corpus.expandCopies(manifest, "doc_id", "n_copies")
      .orderBy("doc_id", "copy_idx").collect()
      .map(_.getAs[Long]("shuffle_key")).toSeq
    assert(out.map(_.getAs[Long]("shuffle_key")).toSeq == expected)
    assert(expected.distinct.size == expected.size,
      "hash collisions in a 4-row fixture would be astonishing")
    val huge = Seq((1L, 50000L)).toDF("doc_id", "n_copies")
    val e = intercept[Exception] {
      Corpus.expandCopies(huge, "doc_id", "n_copies").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("exceeds maxCopies")))
    // the documented escape: raise the cap explicitly
    assert(Corpus.expandCopies(huge, "doc_id", "n_copies",
      maxCopies = 60000L).count() == 50000L)
  }

  test("keepTopByGroup keeps ceil(fraction*n) per group with (score desc, " +
       "key asc) tie discipline; null score/key rows are dropped") {
    val df = Seq(
      (Some(1L), Some(9.0), "a"), (Some(2L), Some(9.0), "a"), // tie: both 9
      (Some(3L), Some(5.0), "a"), (Some(4L), Some(1.0), "a"),
      (Some(5L), Some(2.0), "b"), (Some(6L), Some(2.0), "b"), // all equal
      (Some(7L), Some(2.0), "b"),
      (Some(8L), None, "a"),      // null score: dropped
      (None, Some(99.0), "a")     // null key: dropped
    ).toDF("doc_id", "score", "source")
    // group a: 4 scored rows, ceil(0.5*4)=2 → ids 1,2 (tie broken by id —
    // both kept here); group b: 3 equal scores (degenerate single bin),
    // ceil(0.5*3)=2 → ids 5,6 by the key tiebreak
    val out = Corpus.keepTopByGroup(df, "source", "doc_id", "score", 0.5)
    val got = out.select("doc_id", "dom_rank").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 5L -> 1L, 6L -> 2L), s"got $got")
    intercept[IllegalArgumentException] {
      Corpus.keepTopByGroup(df, "source", "doc_id", "score", 0.0)
    }
    intercept[IllegalArgumentException] {
      Corpus.keepTopByGroup(df, "source", "doc_id", "score", 1.5)
    }
  }

  test("keepTopByGroup matches a plain row_number window on a randomized " +
       "frame (score-proportional binning end to end)") {
    val rnd = new scala.util.Random(7)
    val df = (0L until 500L).map { i =>
      (i, rnd.nextDouble() * 100.0, s"g${i % 3}")
    }.toDF("doc_id", "score", "source")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("score").desc, col("doc_id"))
    val cnt = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
    val naive = df
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(cnt))
      .filter(col("rn") <= ceil(lit(0.3) * col("n")))
      .select("doc_id", "rn").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Corpus.keepTopByGroup(df, "source", "doc_id", "score", 0.3)
      .select("doc_id", "dom_rank").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == naive)
    assert(got.size == naive.size && got.nonEmpty)
  }

  test("compactLmStats refuses a crashed append's unrecorded batch " +
       "files — folding them would double-apply the batch on retry") {
    val path = java.nio.file.Files.createTempDirectory("graft_lm_cr")
      .toString
    val batch = Seq((1L, "alpha beta"), (2L, "beta gamma"))
      .toDF("doc_id", "text")
    Corpus.saveLmStats(batch, path, "doc_id", "text")
    // simulate: batch bC promoted its unigram file but never recorded
    val tag = "bC".getBytes("UTF-8").map("%02x".format(_)).mkString
    val seg = new java.io.File(s"$path/unigrams").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(seg.toPath,
      new java.io.File(s"$path/unigrams", s"batch_${tag}_0.parquet").toPath)
    val e = intercept[IllegalArgumentException] {
      Corpus.compactLmStats(spark, path)
    }
    assert(e.getMessage.contains("UNRECORDED"))
    // the documented recovery: replay the batch (converges, exactly
    // once), then compact
    assert(Corpus.appendLmStats(batch, path, "doc_id", "text", "bC"))
    Corpus.compactLmStats(spark, path)
    val uni = spark.read.parquet(s"$path/unigrams")
      .groupBy("tok").sum("c").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(uni("beta") == 4L, // 2 from save + 2 from the one replay
      s"exactly-once application expected, got $uni")
  }
}
