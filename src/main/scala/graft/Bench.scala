package graft

/** Driver-run benchmark: times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout.
  *
  * Each query is fully evaluated through the noop sink (count() would let
  * Spark skip computing projected columns). A warmup pass first touches
  * every table so timings measure query execution, not JVM/session/
  * file-cache warmup.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.engine.Tables.session(s"local[$cpus]", cpus.toInt)

    graft.engine.Tables.all.foreach { n =>
      try graft.engine.Tables.load(spark, sfDir, n).count()
      catch { case _: Throwable => () }
    }

    // min of two timed runs per query: steady-state measure, robust to
    // the multi-second scheduler noise a shared VM shows on short queries.
    // The Spark cache is cleared BETWEEN reps: operators that persist
    // multi-consumer frames (q19/q21/q28/q70) would otherwise get their
    // second rep served from the first rep's cache via the cache
    // manager's plan-equality lookup — a warm min measures cross-run
    // reuse, not the query. A failing query records a 9999s sentinel
    // (NOT its time-to-throw — a broken build must read as slow, never
    // as fast) + a stderr line.
    //
    // NOISE CANARY: one fixed cheap query (q01, a broadcast dim lookup
    // whose plan never changes) is re-timed single-rep before each
    // DECILE of the suite and once at the end (VERDICT r10: the r10
    // window's q73–q75 burst fell between quartile samples and could
    // only be called weather by a local re-run; eleven samples bracket
    // every ~12-query stretch). Identical plans have flapped 2–27×
    // run-to-run on this shared VM (BASELINE.md), and two of three
    // driver rounds lost their bench signal to such a window — the
    // canary vector lets any reader deflate a degraded window WITHOUT
    // a local rerun: flat canaries + one slow query = that query
    // regressed; inflated canaries = the whole window is weather.
    //
    // Lifecycle queries (q89–q95) also report PER-STAGE wall times
    // (build/append/compact/...; see [[Stages]]) from the winning rep,
    // plus `final_read` = headline minus eager stages = the returned
    // frame's own evaluation. One bundled number was unattributable
    // (VERDICT r7 on q92's 73.8 s driver reading).
    val canaryName = "q01_dim_lookup"
    def canaryTime(): Double =
      SparkEntry.queries.get(canaryName).fold(-1.0) { fn =>
        try {
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          spark.sharedState.cacheManager.clearCache()
          dt
        } catch { case _: Throwable => -1.0 }
      }
    // I/O CANARY (VERDICT r15 task 2): the CPU canary is a broadcast
    // lookup doing zero I/O, so it can neither convict nor exonerate
    // the tmpdir-bound lifecycle class (q128–q148) — exactly the class
    // that regressed in r15. This one is a fixed tiny commit + read
    // through the lake's OWN commit path (staging write, promotes,
    // lineage birth, listing, scan), bracketing each decile like the
    // CPU canary. Reading rule: lifecycle-class gaps are adjudicated
    // on max(canary_factor, io_canary_factor) — a window where BOTH
    // are flat and a lifecycle query still reads >2× its base is weak.
    val ioCanaryRoot =
      java.nio.file.Files.createTempDirectory("graft_bench_iocanary")
        .toString
    var ioCanaryN = 0
    def ioCanaryTime(): Double =
      try {
        ioCanaryN += 1
        val dir = s"$ioCanaryRoot/t$ioCanaryN/data"
        val t0 = System.nanoTime()
        graft.sources.TimeTravel.commitAppend(
          spark.range(0L, 20000L)
            .selectExpr("id", "id % 97 as grp"),
          dir, Seq("id"), files = 2)
        graft.sources.TimeTravel.read(spark, dir)
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        val fs = new org.apache.hadoop.fs.Path(ioCanaryRoot)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(s"$ioCanaryRoot/t$ioCanaryN"),
          true)
        spark.sharedState.cacheManager.clearCache()
        dt
      } catch { case _: Throwable => -1.0 }
    val canaries = scala.collection.mutable.ArrayBuffer[Double]()
    val ioCanaries = scala.collection.mutable.ArrayBuffer[Double]()
    val stageMap =
      scala.collection.mutable.LinkedHashMap[String, Seq[(String, Double)]]()
    val qseq = SparkEntry.queries.toSeq
    val decile = math.max(1, (qseq.size + 9) / 10)
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    val decileOf = scala.collection.mutable.LinkedHashMap[String, Int]()
    qseq.grouped(decile).zipWithIndex.foreach { case (chunk, di) =>
      canaries += canaryTime()
      ioCanaries += ioCanaryTime()
      chunk.foreach { case (name, fn) =>
        decileOf += name -> di
        var best = Double.MaxValue
        var bestStages = Seq.empty[(String, Double)]
        (1 to 2).foreach { _ =>
          Stages.clear(name)
          val t0 = System.nanoTime()
          val dt =
            try {
              fn(spark, sfDir).write.format("noop").mode("overwrite").save()
              val d = (System.nanoTime() - t0) / 1e9
              spark.sharedState.cacheManager.clearCache()
              d
            } catch {
              case e: Throwable =>
                System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
                9999.0
            }
          if (dt < best) { best = dt; bestStages = Stages.snapshot(name) }
        }
        results += name -> best
        if (bestStages.nonEmpty) {
          val eager = bestStages.map(_._2).sum
          stageMap += name ->
            (bestStages :+ ("final_read" -> math.max(0.0, best - eager)))
        }
      }
    }
    canaries += canaryTime()
    ioCanaries += ioCanaryTime()
    // SELF-ADJUDICATION (VERDICT r14 task 7): three driver windows
    // running were warm enough that the weather-vs-weak verdict lived
    // in BASELINE prose — emit it into the artifact instead, so a
    // BENCH_rNN reader deflates a degraded window mechanically.
    //  - canary_factor[d]: the decile's local contention multiple =
    //    min(bracketing canary samples) / the run's best canary sample
    //    (min of the brackets is deliberate: a burst that missed BOTH
    //    brackets reads 1.0, so deflation never manufactures speed —
    //    a query can read worse than true weather, never better);
    //  - weather_ratio[q]: raw seconds ÷ its decile's canary_factor =
    //    the weather-deflated estimate. The BASELINE reading rule: a
    //    committed-vs-driver gap is adjudicated on weather_ratio, and
    //    a query whose weather_ratio STILL exceeds 2× its committed
    //    base is weak, not weather.
    val canaryBase = {
      val ok = canaries.filter(_ > 0.0)
      if (ok.isEmpty) 1.0 else ok.min
    }
    def canaryAt(i: Int): Double = {
      val c = canaries(i)
      if (c > 0.0) c else canaryBase
    }
    val ioCanaryBase = {
      val ok = ioCanaries.filter(_ > 0.0)
      if (ok.isEmpty) 1.0 else ok.min
    }
    def ioCanaryAt(i: Int): Double = {
      val c = ioCanaries(i)
      if (c > 0.0) c else ioCanaryBase
    }
    val nDeciles = canaries.size - 1
    val canaryFactor = (0 until nDeciles).map(d =>
      math.max(1.0, math.min(canaryAt(d), canaryAt(d + 1)) / canaryBase))
    val ioCanaryFactor = (0 until nDeciles).map(d =>
      math.max(1.0,
        math.min(ioCanaryAt(d), ioCanaryAt(d + 1)) / ioCanaryBase))
    val weatherRatio = results.map { case (name, raw) =>
      val f = decileOf.get(name).map(canaryFactor).getOrElse(1.0)
      name -> raw / f
    }
    // the lifecycle-class deflator: raw ÷ max(cpu, io) contention for
    // the query's decile — what adjudicates an I/O-bound (tmpdir-bound)
    // query, where the CPU canary is blind. max() of the two factors
    // still never manufactures speed: both canaries use min-of-brackets
    val ioWeatherRatio = results.map { case (name, raw) =>
      val d = decileOf.get(name)
      val f = math.max(d.map(canaryFactor).getOrElse(1.0),
        d.map(ioCanaryFactor).getOrElse(1.0))
      name -> raw / f
    }
    // Plan fingerprints LAST (construction-time build jobs would
    // otherwise pre-warm the timed reps' caches), then the cache cleared
    // per query for the same reason in reverse. A changed hash between
    // rounds is an explicit plan regression; a changed timing alone is
    // VM noise until proven otherwise (see PlanFingerprint's scaladoc).
    val plans = SparkEntry.queries.map { case (name, fn) =>
      val fp =
        try PlanFingerprint.of(fn(spark, sfDir))
        catch { case e: Throwable => s"error:${e.getClass.getSimpleName}" }
      spark.sharedState.cacheManager.clearCache()
      name -> fp
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val ps = plans.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val cs = canaries.mkString("[", ",", "]")
    val cf = canaryFactor.mkString("[", ",", "]")
    val ics = ioCanaries.mkString("[", ",", "]")
    val icf = ioCanaryFactor.mkString("[", ",", "]")
    val wr = weatherRatio.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val iwr = ioWeatherRatio.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val ss = stageMap.map { case (q, st) =>
      "\"" + q + "\":" +
        st.map { case (s, v) => "\"" + s + "\":" + v }.mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Key order matters for the driver artifact: its capture keeps the
    // TAIL of this line, so the timings map goes LAST and the canary
    // vector + stage maps (small, and the keys a degraded window needs
    // for interpretation) go right before it; the large plans map is
    // first to be sacrificed to truncation (the committed snapshot file
    // holds the hashes anyway — BENCH_r04 lost all 84 timings the other
    // way around).
    // The driver's stdout capture keeps a fixed-size tail, which truncated
    // the r5 and r6 artifacts; the complete record also goes to a repo file
    // (committed per round) so no timing or hash is ever lost to capture.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try {
      val cfg =
        s"""{"cpus":$cpus,"shufflePartitions":$cpus,"aqe":true,"timeZone":"UTC"}"""
      val full =
        s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","config":$cfg,"plans":$ps,"canary":$cs,"canary_factor":$cf,"io_canary":$ics,"io_canary_factor":$icf,"weather_ratio":$wr,"io_weather_ratio":$iwr,"stages":$ss,"queries":$qs}"""
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outPath),
        (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    // Stdout layout (VERDICT r10: the driver keeps EXACTLY a 2000-char
    // stdout tail; the r10 "compact" last line was 10,541 bytes, so
    // `parsed` was null two rounds running even though every query was
    // green). The full record prints first (sacrificial — it also lives
    // in the committed bench_out.json), then the LAST line is a short
    // summary — total + count + canary vector + the slowest queries —
    // asserted under 1,500 bytes BY CONSTRUCTION so any tail ≥2000
    // chars always ends with one complete parseable JSON line.
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","plans":$ps,"stages":$ss}""")
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","queries":$qs}""")
    // Locale-proof number formatting: the f-interpolator uses the JVM
    // default locale, and a comma-decimal locale (de_DE, fr_FR) would
    // render 124,883 — invalid JSON in the one line whose whole job is
    // to always parse. Locale.ROOT pins the dot.
    def j3(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val slow = results.toSeq.sortBy(-_._2).take(8)
      .map { case (k, v) => "\"" + k + "\":" + j3(v) }
      .mkString("{", ",", "}")
    val csShort = canaries.map(j3).mkString("[", ",", "]")
    val icsShort = ioCanaries.map(j3).mkString("[", ",", "]")
    val summaryLine =
      s"""{"metric":"total","value":${j3(total)},"unit":"sec","sf":"$sfDir","n":${results.size},"canary":$csShort,"io_canary":$icsShort,"slowest":$slow,"detail":"bench_out.json"}"""
    require(summaryLine.length <= 1500,
      s"bench summary line is ${summaryLine.length} bytes; must fit a 2000-char tail")
    println(summaryLine)
    spark.stop()
  }
}
