package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("vector ops: dot/norm/cosine on known values; zero-norm guarded") {
    val df = Seq(
      (Array(1.0f, 2.0f), Array(2.0f, 1.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(0.0f, 0.0f), Array(1.0f, 1.0f))
    ).toDF("a", "b")
    val r = df.select(
      VectorOps.dot(col("a"), col("b")),
      VectorOps.cosine(col("a"), col("b"))).collect()
    assert(r(0).getDouble(0) == 4.0 && math.abs(r(0).getDouble(1) - 0.8) < 1e-12)
    assert(r(1).getDouble(1) == 0.0)
    assert(r(2).getDouble(1) == 0.0) // zero-norm → 0, not NaN
  }

  test("brute-force top-k ranks by cosine with id tiebreak") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.5f, 0.5f))).toDF("vec_id", "embedding")
    val r = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0),
        "vec_id", "embedding", k = 3)
      .orderBy("rank").collect().map(_.getLong(1))
    assert(r.toSeq == Seq(1L, 3L, 2L))
  }

  test("IVF ANN: cells partition the corpus; probed search never beats brute force") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val (cells, centroids) = Similarity.ivfAssign(emb, "vec_id", "embedding", nCells = 8)
    assert(centroids.length == 8)
    assert(cells.count() == emb.count()) // every vector lands in exactly one cell
    assert(cells.select("cell").distinct().count() <= 8)
    val queries = emb.filter($"vec_id" < 5)
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 5, nCells = 8, nProbe = 2)
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 1)
      .select($"query_id", $"cos".as("best_cos"))
    val cmp = ivf.groupBy($"query_id").agg(max($"cos").as("ivf_cos"))
      .join(bf, Seq("query_id"))
    assert(cmp.filter($"ivf_cos" > $"best_cos" + 1e-9).isEmpty)
    assert(ivf.groupBy($"query_id").count().collect().forall(_.getLong(1) <= 5))
  }

  test("IVF index persistence: search from a loaded index equals a fresh build") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val (cells, cents) = Similarity.ivfAssign(emb, "vec_id", "embedding", nCells = 8)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Similarity.saveIvfIndex(cells, cents, tmp)
    val (cells2, cents2) = Similarity.loadIvfIndex(spark, tmp)
    assert(cents2.map { case (c, v) => (c, v.toSeq) }.toSeq ==
      cents.map { case (c, v) => (c, v.toSeq) }.toSeq)
    val q = emb.filter($"vec_id" < 5)
    def run(c: org.apache.spark.sql.DataFrame,
            ct: Array[(Int, Array[Float])]): Seq[Seq[Any]] =
      Similarity.ivfSearch(c, ct, q, "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(run(cells, cents) == run(cells2, cents2))
  }

  test("incremental IVF: frozen-centroid append is idempotent and range-pruned; compact keeps results") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_ap").toString
    val hist = emb.filter($"vec_id" >= 250)
    val batch = emb.filter($"vec_id" < 250)
    val (cells, cents) = Similarity.ivfAssign(hist, "vec_id", "embedding", nCells = 16)
    Similarity.saveIvfIndex(cells, cents, tmp)
    cells.unpersist(blocking = false)

    // the idempotence anti-join reaches the index as an id-only scan with
    // the batch's [min,max] span pushed into parquet — append cost tracks
    // id-range overlap, not history size — and never sort-merge-shuffles
    val rows = Similarity.ivfAppendRows(batch, tmp, "vec_id", "embedding")
    val sig = PlanFingerprint.signature(rows)
    // cell rides along as the partition column; the data read is id-only
    assert(sig.contains("cols=[cell,vec_id]"), sig)
    assert(sig.contains("GreaterThanOrEqual(vec_id,0)") &&
      sig.contains("LessThanOrEqual(vec_id,249)"), sig)
    assert(!sig.contains("SortMergeJoin"), sig)

    // membership: one append indexes the batch; a retried append is a no-op
    Similarity.appendIvfIndex(batch, tmp, "vec_id", "embedding")
    val n1 = spark.read.parquet(s"$tmp/cells").count()
    Similarity.appendIvfIndex(batch, tmp, "vec_id", "embedding")
    assert(n1 == emb.count() &&
      spark.read.parquet(s"$tmp/cells").count() == n1)

    // a null id can never anti-join away, so it must be dropped up front
    // — otherwise every retry re-appends it and the index grows unbounded
    val nullBatch = batch.unionByName(
      batch.limit(1).withColumn("vec_id", lit(null).cast(batch.schema("vec_id").dataType)))
    Similarity.appendIvfIndex(nullBatch, tmp, "vec_id", "embedding")
    assert(spark.read.parquet(s"$tmp/cells").count() == n1)

    // (the frozen-assignment arithmetic itself is oracle-checked end to
    // end by q89: DuckDB re-derives the batch cells from the final
    // centroids and the row hashes must agree)

    // search over the incremental index: recall comparable to a same-
    // parameter one-shot index built over the full corpus
    val queries = emb.filter($"vec_id" < 20)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10)
      .select($"query_id", $"neighbor_id")
    val (loaded, lc) = Similarity.loadIvfIndex(spark, tmp)
    val inc = Similarity.ivfSearch(loaded, lc, queries, "vec_id", "embedding",
      k = 10, nProbe = 4)
    val n = exact.count().toDouble
    val recall = inc.select($"query_id", $"neighbor_id")
      .intersect(exact).count() / n
    assert(recall >= 0.5, s"incremental IVF recall@10 $recall below floor")

    // compaction: fewer files, identical membership and search rows
    def files() = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$tmp/cells"))
      .filter(p => p.toString.endsWith(".parquet")).count()
    val before = files()
    val searchBefore = inc.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    Similarity.compactIvfIndex(spark, tmp, "vec_id")
    assert(files() < before, s"$before -> ${files()}")
    val (l2, c2) = Similarity.loadIvfIndex(spark, tmp)
    assert(c2.map { case (c, v) => (c, v.toSeq) }.toSeq ==
      lc.map { case (c, v) => (c, v.toSeq) }.toSeq)
    val searchAfter = Similarity.ivfSearch(l2, c2, queries, "vec_id", "embedding",
        k = 10, nProbe = 4).orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(searchAfter == searchBefore)
    // appends keep working against the compacted layout
    Similarity.appendIvfIndex(
      batch.withColumn("vec_id", $"vec_id" + 100000L), tmp, "vec_id", "embedding")
    assert(spark.read.parquet(s"$tmp/cells").count() == n1 + batch.count())
  }

  test("LSH index persistence: probe search equals self-search, scan prunes to probed buckets") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("graft_lsh").toString
    Similarity.saveLshIndex(emb, tmp, "vec_id", "embedding",
      bits = 16, prefixBits = 6, tables = 2)
    val queries = emb.filter($"vec_id" < 3)
    val probe = Similarity.lshSearch(spark, tmp, queries, "vec_id", "embedding",
      k = 5, multiProbe = true, maxBucket = 4096)
    // parity: the self-search restricted to the same query ids, same family
    val self = Similarity.lshTopK(emb, "vec_id", "embedding", k = 5,
        bits = 16, prefixBits = 6, tables = 2, maxBucket = 4096,
        multiProbe = true)
      .filter($"query_id" < 3)
      .select("query_id", "neighbor_id", "cos", "rank")
    val a = probe.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val b = self.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(a.nonEmpty && a == b)
    // the probed INDEX scan carries static PartitionFilters — the
    // storage-layer bucket-fraction cut, same mechanism as the
    // month-pruning spec (the non-partitioned embeddings scans on the
    // query side print empty filters, which is fine)
    val scanLine = probe.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains(s"$tmp/sig"))
      .getOrElse(fail("no index scan in plan"))
    assert(scanLine.contains("PartitionFilters: [("),
      s"probe scan reads every bucket:\n$scanLine")

    // the "SMALL query set" contract is ENFORCED, not assumed: a query
    // frame whose probe set exceeds maxProbes refuses with guidance
    // instead of building a megabyte isin filter on the driver
    val e = intercept[IllegalArgumentException] {
      Similarity.lshSearch(spark, tmp, emb.filter($"vec_id" < 10),
        "vec_id", "embedding", k = 5, maxProbes = 2)
    }
    assert(e.getMessage.contains("probe set exceeds"))

    // empty query frame: same schema as the non-empty path, with
    // neighbor_id typed from the INDEX's id column even when the query
    // frame's id column has a different type
    val emptyQ = queries.withColumn("vec_id", $"vec_id".cast("int")).limit(0)
    val empty = Similarity.lshSearch(spark, tmp, emptyQ,
      "vec_id", "embedding", k = 5)
    assert(empty.isEmpty)
    assert(empty.schema.fieldNames.toSeq == probe.schema.fieldNames.toSeq)
    assert(empty.schema("query_id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(empty.schema("neighbor_id").dataType ==
      spark.read.parquet(s"$tmp/sig").schema("vec_id").dataType)
  }

  test("incremental LSH: pinned-family append is idempotent and range-pruned; equals one-shot index") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("graft_lsh_ap").toString
    Similarity.saveLshIndex(emb.filter($"vec_id" >= 250), tmp, "vec_id",
      "embedding", bits = 8, prefixBits = 4, tables = 2, portableDim = 64)
    val batch = emb.filter($"vec_id" < 250)

    // idempotence census: ONE table's partitions (a complete id set at
    // 1/tables of the rows), with the batch id span pushed into parquet;
    // no sort-merge exchange anywhere
    val rows = Similarity.lshAppendRows(batch, tmp, "vec_id", "embedding")
    val sig = PlanFingerprint.signature(rows)
    assert(sig.contains("GreaterThanOrEqual(vec_id,0)") &&
      sig.contains("LessThanOrEqual(vec_id,249)"), sig)
    assert(!sig.contains("SortMergeJoin"), sig)

    // membership: one append indexes the batch in every table; a retried
    // append is a no-op
    Similarity.appendLshIndex(batch, tmp, "vec_id", "embedding")
    val n1 = spark.read.parquet(s"$tmp/sig").count()
    Similarity.appendLshIndex(batch, tmp, "vec_id", "embedding")
    assert(n1 == emb.count() * 2 &&
      spark.read.parquet(s"$tmp/sig").count() == n1)

    // null ids never anti-join away — dropped up front, same rule as IVF
    Similarity.appendLshIndex(
      batch.unionByName(batch.limit(1).withColumn("vec_id",
        lit(null).cast(batch.schema("vec_id").dataType))),
      tmp, "vec_id", "embedding")
    assert(spark.read.parquet(s"$tmp/sig").count() == n1)

    // the incremental index probes EXACTLY like a one-shot index over the
    // union: signatures are pure functions of (vector, pinned planes), so
    // history/appended provenance must be invisible to search
    val oneShot = java.nio.file.Files.createTempDirectory("graft_lsh_os").toString
    Similarity.saveLshIndex(emb, oneShot, "vec_id", "embedding",
      bits = 8, prefixBits = 4, tables = 2, portableDim = 64)
    val q = emb.filter($"vec_id" < 10)
    def probe(p: String): Seq[Seq[Any]] =
      Similarity.lshSearch(spark, p, q, "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val incRows = probe(tmp)
    assert(incRows == probe(oneShot) && incRows.nonEmpty)

    // compaction: fewer files, identical probe rows, appends keep working
    def files() = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$tmp/sig"))
      .filter(p => p.toString.endsWith(".parquet")).count()
    val before = files()
    Similarity.compactLshIndex(spark, tmp, "vec_id")
    assert(files() < before, s"$before -> ${files()}")
    assert(probe(tmp) == incRows)
    Similarity.appendLshIndex(
      batch.withColumn("vec_id", $"vec_id" + 100000L), tmp, "vec_id", "embedding")
    assert(spark.read.parquet(s"$tmp/sig").count() == n1 + batch.count() * 2)
  }

  test("LSH ANN: same-vector pairs always share a bucket; recall vs brute force sane") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val ann = Similarity.lshTopK(emb, "vec_id", "embedding", k = 5)
    // every query's ANN cosines must be <= its brute-force best
    val bf = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 10),
      "vec_id", "embedding", k = 1)
      .select($"query_id", $"cos".as("best_cos"))
    val joined = ann.filter($"query_id" < 10)
      .groupBy($"query_id").agg(max($"cos").as("ann_cos"))
      .join(bf, Seq("query_id"))
      .withColumn("le", $"ann_cos" <= $"best_cos" + 1e-9)
    assert(joined.filter(!$"le").isEmpty)
    // signature is deterministic across evaluations; seeds give distinct families
    val s1 = emb.select(Similarity.hyperplaneSignature($"embedding", 16).as("s"))
      .agg(sum($"s")).head().getLong(0)
    val s2 = emb.select(Similarity.hyperplaneSignature($"embedding", 16).as("s"))
      .agg(sum($"s")).head().getLong(0)
    assert(s1 == s2)
    val s3 = emb.select(Similarity.hyperplaneSignature($"embedding", 16, seed = 1).as("s"))
      .agg(sum($"s")).head().getLong(0)
    assert(s1 != s3)
  }

  test("LSH ANN recall floors; OR-amplification and multi-probe each improve it") {
    // deterministic (fixed plane seeds): measured @5 on sf0.001:
    // 0.134 (t=1) / 0.250 (t=2) / ~0.48 (t=1+probe) / ~0.72 (t=2+probe) —
    // floors leave margin for parameter-neutral refactors only
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val bf = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", k = 5)
      .select($"query_id", $"neighbor_id")
    val total = bf.count().toDouble
    def recall(tables: Int, mp: Boolean): Double =
      bf.join(Similarity.lshTopK(emb, "vec_id", "embedding", k = 5,
          tables = tables, multiProbe = mp).select($"query_id", $"neighbor_id"),
        Seq("query_id", "neighbor_id")).count() / total
    val r1 = recall(1, mp = false)
    val r2 = recall(2, mp = false)
    val r2p = recall(2, mp = true)
    assert(r2 > r1, s"amplification must improve recall ($r1 -> $r2)")
    assert(r2p > r2, s"multi-probe must improve recall ($r2 -> $r2p)")
    assert(r2p >= 0.6, s"tables=2 + multi-probe recall@5 $r2p below floor")
  }

  test("LSH ANN hot-bucket cap: identical-vector flood stays linear and exact") {
    // 100 identical vectors all land in ONE bucket per table; the neighbor
    // side is capped, so candidates are bucket × maxBucket, never bucket².
    // For identical vectors ties rank by neighbor id, so the capped top-k
    // IS the exact top-k (lowest other ids).
    val ident = (0L until 100L).map(i => (i, Array.fill(8)(0.5f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.lshTopK(ident, "vec_id", "embedding", k = 3,
      prefixBits = 4, maxBucket = 8)
    assert(r.count() == 300) // every query got its full k
    val q50 = r.filter($"query_id" === 50L).orderBy("rank")
      .collect().map(_.getAs[Long]("neighbor_id"))
    assert(q50.toSeq == Seq(0L, 1L, 2L)) // exact under tie ordering
  }

  test("int8 quantization: byte range, zero vector, max-abs hits ±127, scale cancels in cosine") {
    import graft.functions.HashFunctions.{dotII, quantize8}
    val df = Seq(
      (0L, Array(0.5f, -1.0f, 0.25f)),
      (1L, Array(0.0f, 0.0f, 0.0f)),     // all-zero → all-zero bytes
      (2L, Array(3.0f, 3.0f, -3.0f)),    // uniform magnitude → ±127 everywhere
      (3L, Array(1e-8f, -2e-8f, 1.5e-8f)) // tiny but nonzero scale still quantizes
    ).toDF("vec_id", "v")
    val q = df.select($"vec_id", quantize8($"v").as("q")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    assert(q(0L) == Seq[Byte](64, -127, 32)) // floor(±x·127 + .5) exactly
    assert(q(1L) == Seq[Byte](0, 0, 0))
    assert(q(2L) == Seq[Byte](127, 127, -127))
    assert(q(3L).max <= 127 && q(3L).min >= -127 && q(3L) != Seq[Byte](0, 0, 0))

    // scale cancellation: integer cosine over q equals double cosine over
    // the dequantized floats (the operator never needs the scales)
    val pairs = df.as("a").crossJoin(df.as("b"))
      .select(quantize8($"a.v").as("qa"), quantize8($"b.v").as("qb"))
      .withColumn("di", dotII($"qa", $"qb").cast("double"))
      .withColumn("na", sqrt(dotII($"qa", $"qa").cast("double")))
      .withColumn("nb", sqrt(dotII($"qb", $"qb").cast("double")))
      .withColumn("cos_int", when($"na" * $"nb" === 0.0, 0.0)
        .otherwise($"di" / ($"na" * $"nb")))
      .withColumn("deq_a", transform($"qa", b => b.cast("float")))
      .withColumn("deq_b", transform($"qb", b => b.cast("float")))
      .withColumn("cos_deq", VectorOps.cosine($"deq_a", $"deq_b"))
      .collect()
    assert(pairs.forall(r =>
      math.abs(r.getAs[Double]("cos_int") - r.getAs[Double]("cos_deq")) < 1e-12))
  }

  test("quantize8 rejects non-finite components loudly, matching the oracle") {
    import graft.functions.HashFunctions.quantize8
    // the DuckDB oracle's floor(x*127/s + .5) errors on NaN/Infinity; a
    // silent NaN→0 here would fork the bit-reproducibility contract
    for (bad <- Seq(Array(1.0f, Float.NaN, 0.5f),
                    Array(Float.PositiveInfinity, 0.0f))) {
      val e = intercept[Exception] {
        Seq((1L, bad)).toDF("vec_id", "v").select(quantize8($"v")).collect()
      }
      val chain = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString("; ")
      assert(chain.contains("quantize8") && chain.contains("non-finite"), chain)
    }
  }

  test("quantized top-k: recall floor vs brute force; deterministic tie-break") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 20)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10)
      .select($"query_id", $"neighbor_id")
    val quant = Similarity.quantizedTopK(emb, queries, "vec_id", "embedding", k = 10)
      .select($"query_id", $"neighbor_id")
    // int8 keeps ~1% relative error per component; top-10 overlap stays high
    val hits = quant.intersect(exact).count().toDouble
    val recall = hits / exact.count()
    assert(recall >= 0.9, s"quantized recall@10 $recall below floor")
    // determinism: a repeat run is row-identical (tie-break is total)
    val again = Similarity.quantizedTopK(emb, queries, "vec_id", "embedding", k = 10)
      .select($"query_id", $"neighbor_id")
    assert(quant.exceptAll(again).isEmpty && again.exceptAll(quant).isEmpty)
    // the storage half of the claim: the int8 column takes under a
    // third of the float32 column's parquet bytes
    def parquetBytes(df: org.apache.spark.sql.DataFrame): Long = {
      val p = java.nio.file.Files.createTempDirectory("graft_quant").toFile
      df.write.mode("overwrite").parquet(p.getPath)
      p.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
    }
    val f32 = parquetBytes(emb.select($"vec_id", $"embedding"))
    val i8 = parquetBytes(Similarity.quantizeEmbeddings(emb, "embedding")
      .select($"vec_id", $"q8"))
    assert(i8 * 3 < f32, s"int8 parquet $i8 B vs float32 $f32 B")
  }

  test("rescored top-k: cosines are the exact float values; recall >= plain quantized") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 20)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10)
    val resc = Similarity.rescoredTopK(emb, queries, "vec_id", "embedding", k = 10)
    val quant = Similarity.quantizedTopK(emb, queries, "vec_id", "embedding", k = 10)

    // every rescored cosine is THE float cosine for that pair (stage 2 is
    // exact — only membership can differ from brute force)
    val mismatch = resc.select($"query_id", $"neighbor_id", $"cos")
      .join(exact.select($"query_id", $"neighbor_id", $"cos".as("bf_cos")),
        Seq("query_id", "neighbor_id"))
      .filter(abs($"cos" - $"bf_cos") > 1e-12)
    assert(mismatch.isEmpty)

    val ex = exact.select($"query_id", $"neighbor_id")
    val n = ex.count().toDouble
    val rRecall = resc.select($"query_id", $"neighbor_id").intersect(ex).count() / n
    val qRecall = quant.select($"query_id", $"neighbor_id").intersect(ex).count() / n
    // the float rescore can only fix quantization-order mistakes inside
    // the candidate window, never introduce new ones
    assert(rRecall >= qRecall, s"rescored $rRecall < quantized $qRecall")
    assert(rRecall >= 0.95, s"rescored recall@10 $rRecall below floor")
  }

  test("minhash hot-bucket cap: identical-doc flood emits a linear star, same clustering") {
    val flood = (0L until 60L).map(i => (i, "the same boilerplate text repeated " +
      "in every single document of this degenerate corpus block", "s"))
      .toDF("doc_id", "text", "source")
    val pairs = graft.operators.Dedup.minhashCandidatePairs(
      flood, "doc_id", "text", maxBucket = 10).collect()
    assert(pairs.length == 59) // star to the representative, not 60·59/2 pairs
    assert(pairs.forall(_.getLong(0) == 0L)) // id1 is always the lowest id
    assert(pairs.forall(_.getDouble(2) == 1.0)) // identical docs → est 1.0
  }

  test("PQ: codes are m ints in [0,k); the index is m ints + a norm " +
       "per vector; encode is deterministic") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val books = Similarity.pqTrain(emb, "vec_id", "embedding",
      m = 4, k = 8, iters = 1)
    assert(books.length == 32)
    assert(books.forall(_._3.length == 16)) // 64 dims / 4 subspaces
    val enc = Similarity.pqEncode(emb, "vec_id", "embedding", books)
    assert(enc.columns.toSeq == Seq("id", "codes", "norm"))
    assert(enc.count() == emb.count())
    val codes = enc.select($"codes").collect().map(_.getSeq[Int](0))
    assert(codes.forall(c => c.length == 4 && c.forall(x => x >= 0 && x < 8)))
    val again = Similarity.pqEncode(emb, "vec_id", "embedding", books)
    assert(enc.exceptAll(again).isEmpty && again.exceptAll(enc).isEmpty)
    // the stored norm is the exact float norm
    val normOff = enc.join(emb, $"id" === $"vec_id")
      .filter(abs($"norm" - VectorOps.norm($"embedding")) > 0.0)
    assert(normOff.isEmpty)

    // an append's idempotence anti-join reaches the codes table as an
    // id-only scan with the batch's [min,max] span pushed into parquet
    // (the incremental IVF pin, on the PQ face): append cost tracks
    // id-range overlap, not history size
    val idx = java.nio.file.Files.createTempDirectory("graft_pq_ap").toString
    Similarity.savePqIndex(Similarity.pqEncode(emb.filter($"vec_id" >= 250),
      "vec_id", "embedding", books), books, idx, "vec_id")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      Similarity.appendPqIndex(emb.filter($"vec_id" < 250), idx, "vec_id",
        "embedding")
      drainListenerBus()
    } finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    val codesScans = plans.asScala.toSeq.flatMap(_.split("\n"))
      .filter(l => l.contains("FileScan parquet") &&
        l.contains(new java.io.File(idx).getName + "/codes"))
    assert(codesScans.nonEmpty && codesScans.forall(s =>
        s.contains("ReadSchema: struct<vec_id:bigint>") &&
          s.contains("GreaterThanOrEqual(vec_id,0)") &&
          s.contains("LessThanOrEqual(vec_id,249)")),
      codesScans.mkString("\n"))
    assert(spark.read.parquet(s"$idx/codes").count() == emb.count())
  }

  test("PQ rescored top-k: exact cosines on the shortlist, recall " +
       "floored vs brute force, and rescore never hurts ADC") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 20)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id",
      "embedding", k = 10)
    // synthetic gaussian embeddings are PQ's worst case (no subspace
    // correlation to exploit) — use 8×16 codes (32 bits/vector, still
    // a 64× compression of 64 floats) and an 8× shortlist
    val books = Similarity.pqTrain(emb, "vec_id", "embedding",
      m = 8, k = 16, iters = 2)
    val enc = Similarity.pqEncode(emb, "vec_id", "embedding", books)
    val adc = Similarity.pqAdcTopK(enc, books, queries, "vec_id",
      "embedding", k = 10)
    val resc = Similarity.pqRescoredTopK(emb, queries, "vec_id",
      "embedding", k = 10, m = 8, kCodes = 16, iters = 2,
      candidateFactor = 8)
    // stage 2 cosines are THE float cosines for their pairs
    val mismatch = resc.select($"query_id", $"neighbor_id", $"cos")
      .join(exact.select($"query_id", $"neighbor_id", $"cos".as("bf")),
        Seq("query_id", "neighbor_id"))
      .filter(abs($"cos" - $"bf") > 1e-12)
    assert(mismatch.isEmpty)
    val ex = exact.select($"query_id", $"neighbor_id")
    val n = ex.count().toDouble
    val aR = adc.select($"query_id", $"neighbor_id").intersect(ex).count() / n
    val rR = resc.select($"query_id", $"neighbor_id").intersect(ex).count() / n
    assert(rR >= aR, s"rescore must not lose recall: adc $aR -> $rR")
    assert(rR >= 0.6, s"PQ rescored recall@10 $rR below floor")
  }

  test("IVF-PQ: probed cells bound the candidate set, the residual " +
       "decomposition scores sanely, and the rescored recall floors") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 20)
    val (enc, cents, books) = Similarity.ivfPqBuild(emb, "vec_id",
      "embedding", nCells = 8, m = 8, kCodes = 16, pqIters = 2)
    assert(enc.count() == emb.count())
    assert(cents.length == 8 && books.length == 8 * 16)
    // nProbe bounds candidates: fewer probed cells, fewer rows scored
    val cand1 = Similarity.ivfPqSearch(enc, cents, books, queries,
      "vec_id", "embedding", k = 500, nProbe = 1).count()
    val cand4 = Similarity.ivfPqSearch(enc, cents, books, queries,
      "vec_id", "embedding", k = 500, nProbe = 4).count()
    assert(cand1 < cand4,
      s"one probed cell must score fewer rows ($cand1 / $cand4)")
    // composed two-stage recall vs truth
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id",
      "embedding", k = 10).select($"query_id", $"neighbor_id")
    val shortl = Similarity.ivfPqSearch(enc, cents, books, queries,
      "vec_id", "embedding", k = 80, nProbe = 6)
    val resc = Similarity.exactRescore(emb, queries, "vec_id",
      "embedding", shortl, k = 10)
    val n = exact.count().toDouble
    val recall = resc.select($"query_id", $"neighbor_id")
      .intersect(exact).count() / n
    // 8 probed-of-8 would be exhaustive; 6-of-8 cells + coarse codes
    // over random gaussians: the floor is deliberately modest
    assert(recall >= 0.5, s"IVF-PQ rescored recall@10 $recall")
    enc.unpersist(blocking = false)
  }

  test("r12 hardening: null query vectors skip cleanly in lshSearch; " +
       "loadPqIndex feeds pqAdcTopK without a rename; bits > 62 " +
       "refused at save; same-cell duplicate ids compact to one " +
       "consistent row") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_sim_r12").toString

    // 1) a null-vector query row must not NPE the whole search
    Similarity.saveLshIndex(emb, s"$tmp/lsh", "vec_id", "embedding",
      bits = 8, prefixBits = 8)
    val qSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val qRows = new java.util.ArrayList[Row]()
    qRows.add(Row(9999L, null))
    val withNull = emb.filter($"vec_id" < 3)
      .select($"vec_id", $"embedding")
      .unionByName(spark.createDataFrame(qRows, qSchema))
    val got = Similarity.lshSearch(spark, s"$tmp/lsh", withNull,
      "vec_id", "embedding", k = 3)
    assert(got.filter($"query_id" === 9999L).count() == 0,
      "the null-vec query matches nothing")
    assert(got.select("query_id").distinct().count() == 3,
      "the real queries still search")

    // 2) the documented load-then-search path, no rename ritual
    val books = Similarity.pqTrain(emb, "vec_id", "embedding", m = 4, k = 8)
    Similarity.savePqIndex(
      Similarity.pqEncode(emb, "vec_id", "embedding", books),
      books, s"$tmp/pq", "vec_id")
    val (codes, books2) = Similarity.loadPqIndex(spark, s"$tmp/pq")
    val adc = Similarity.pqAdcTopK(codes, books2,
      emb.filter($"vec_id" < 3), "vec_id", "embedding", k = 5,
      codesIdCol = "vec_id")
    assert(adc.count() == 15)

    // 3) a 63/64-bit family would pack the sign bit / wrap the mask to
    // bucket-everything-at-zero — refused loudly at save like at search
    intercept[IllegalArgumentException] {
      Similarity.saveLshIndex(emb, s"$tmp/lsh64", "vec_id", "embedding",
        bits = 64, prefixBits = 64)
    }

    // 4) duplicate ids in the SAME cell with different payloads: the
    // compaction's pick is total-ordered, so repeated runs agree and
    // the surviving row is one real row, never a column mix
    val (cells, cents) = Similarity.ivfAssign(
      emb.filter($"vec_id" < 50), "vec_id", "embedding", nCells = 4)
    Similarity.saveIvfIndex(cells, cents, s"$tmp/ivf")
    // legacy duplicate: same id, same cell, a DIFFERENT vector payload
    val dupRow = cells.filter($"vec_id" === 7L)
      .withColumn("embedding", reverse($"embedding"))
    dupRow.write.mode("append")
      .partitionBy("cell").parquet(s"$tmp/ivf/cells")
    Similarity.compactIvfIndex(spark, s"$tmp/ivf", "vec_id")
    val after1 = spark.read.parquet(s"$tmp/ivf/cells")
      .filter($"vec_id" === 7L).collect()
    assert(after1.length == 1, "one row survives per id")
    Similarity.compactIvfIndex(spark, s"$tmp/ivf", "vec_id")
    val after2 = spark.read.parquet(s"$tmp/ivf/cells")
      .filter($"vec_id" === 7L).collect()
    assert(after1.map(_.toString).toSeq == after2.map(_.toString).toSeq,
      "repeated compactions pick the same winner")
  }

  test("native portable signature is bit-identical to the zip_with/aggregate fold, including degenerate shapes (r18)") {
    import org.apache.spark.sql.Column
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // the pre-r18 interpreted formulation, verbatim — the semantics pin
    def hof(dim: Int)(vec: Column, bits: Int, seed: Long): Column =
      (0 until bits).map { b =>
        val comp = (1 to dim).map(i =>
          Similarity.portablePlaneComponent(seed, b, i))
        val dot = aggregate(
          zip_with(vec, typedlit(comp), (x, y) => x.cast("double") * y),
          lit(0.0), (acc, x) => acc + x)
        when(dot >= 0.0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
    // degenerate shapes the HOF form resolves through null-padding: a
    // too-short vector, a too-long one, a null element, a NULL vector —
    // each must yield signature 0 in both forms (never null: the summed
    // when/otherwise was non-nullable)
    val base = emb.select($"embedding")
    val weird = base.limit(1).select(slice($"embedding", 1, 10).as("embedding"))
      .unionByName(base.limit(1).select(
        concat($"embedding", $"embedding").as("embedding")))
      .unionByName(base.limit(1).select(concat(slice($"embedding", 1, 63),
        array(lit(null).cast("float"))).as("embedding")))
      .unionByName(base.limit(1).select(
        lit(null).cast("array<float>").as("embedding")))
    val all = base.unionByName(weird)
    Seq(0L, 1L, 7L).foreach { seed =>
      val cmp = all.select(
        Similarity.portableSignature(64)($"embedding", 8, seed).as("fast"),
        hof(64)($"embedding", 8, seed).as("slow"))
      assert(cmp.filter(!($"fast" <=> $"slow")).count() == 0, s"seed $seed")
      assert(cmp.filter($"fast".isNull).count() == 0, "never null")
    }
  }

  test("native eq_count matches the zip_with/filter agreement form on padded and null positions (r18)") {
    val df = spark.sql(
      """select * from values
        |  (array(1L, 2L, 3L), array(1L, 9L, 3L)),
        |  (array(1L, 2L),     array(1L, 2L, 3L)),
        |  (array(1L, 2L, 3L), array(1L, 2L)),
        |  (array(cast(null as bigint), 2L), array(cast(null as bigint), 2L)),
        |  (cast(null as array<bigint>), array(1L)),
        |  (array(1L), cast(null as array<bigint>))
        |  as t(a, b)""".stripMargin)
    val cmp = df.select(
      graft.functions.HashFunctions.eqCount($"a", $"b").as("fast"),
      size(filter(zip_with($"a", $"b", (x, y) => x === y), x => x)).as("slow"))
    assert(cmp.filter(!($"fast" <=> $"slow")).count() == 0,
      cmp.collect().mkString("; "))
  }
}
