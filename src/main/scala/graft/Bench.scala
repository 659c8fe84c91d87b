package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.local(cpus.toInt)
    // SPARK_GRAFT_BENCH_ONLY=q169,q140 restricts the run to the named
    // query prefixes — for targeted iteration; the driver's full run
    // leaves it unset
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
    // ---- in-window oracle measurement (round-15 verdict item 2) ----
    // Re-time the DuckDB oracle inside THIS bench's wall window by invoking
    // scripts/time_oracle.py over exactly the non-streaming queries this
    // run will time — before the Spark warmup, so the two engines never
    // compete for cores. A stale snapshot published a 2.4x ratio for an
    // engine whose same-window band was [0.94, 1.40] (round 15); a fresh
    // measurement makes ratio_windows self-consistent by construction. The
    // snapshot-file path below stays as the fallback, but a snapshot older
    // than SPARK_GRAFT_ORACLE_MAX_AGE_S (default 900 s) SUPPRESSES the
    // ratio instead of crying wolf.
    val oracleSkip = sys.env
      .getOrElse("SPARK_GRAFT_ORACLE_SKIP", "q140_incremental_components")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    // per-query oracle seconds: accepts scientific notation (Python's
    // json.dump emits 9e-05 for sub-1e-4 timings; the old [0-9.]+ regex
    // would parse the mantissa alone and inflate oracle_s)
    val oracleNumRe =
      "\"(q[A-Za-z0-9_]+)\"\\s*:\\s*([0-9.]+(?:[eE][+-]?[0-9]+)?)".r
    def parsePerQ(txt: String): Map[String, Double] =
      oracleNumRe.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    val oracleScript = sys.env.getOrElse("SPARK_GRAFT_ORACLE_SCRIPT",
      "scripts/time_oracle.py")
    val freshOracle: Option[Map[String, Double]] =
      if (sys.env.get("SPARK_GRAFT_ORACLE_FRESH").contains("off") ||
          !java.nio.file.Files.exists(java.nio.file.Paths.get(oracleScript)))
        None
      else try {
        val tmp = java.nio.file.Files.createTempDirectory("graft_oracle_")
          .toFile
        val sqlJson = SparkEntry.oracleSql.toSeq.sortBy(_._1)
          .collect { case (k, v)
            if ordered.exists(_._1 == k) && !k.contains("_stream_") &&
              !oracleSkip(k) =>
            graft.core.Jsons.str(k) + ": " + graft.core.Jsons.str(v)
          }.mkString("{", ",", "}")
        java.nio.file.Files.write(
          new java.io.File(tmp, "oracle_sql.json").toPath,
          sqlJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val outFile = new java.io.File(tmp, "fresh.json")
        System.err.println(s"[bench] timing DuckDB oracle in-window ($oracleScript)")
        val pb = new ProcessBuilder("python3", oracleScript, sfDir,
          tmp.getAbsolutePath, oracleSkip.mkString(","),
          outFile.getAbsolutePath)
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
        val p = pb.start()
        val done = p.waitFor(30, java.util.concurrent.TimeUnit.MINUTES)
        if (!done) { p.destroyForcibly(); None }
        else if (p.exitValue() != 0 || !outFile.exists()) None
        else {
          val txt = new String(
            java.nio.file.Files.readAllBytes(outFile.toPath),
            java.nio.charset.StandardCharsets.UTF_8)
          val perQ = parsePerQ(txt)
          if (perQ.isEmpty) None else Some(perQ)
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] in-window oracle failed: ${e.getMessage}")
        None
      }
    val oracleMeasuredMs = System.currentTimeMillis()
    // discarded FULL warmup pass: the first executions pay JVM C2/JIT
    // compilation of the engine's own hot paths and per-table scan
    // metadata — costs that otherwise land unevenly on whichever early
    // queries run first (q04 carried ~1.1s of them through three rounds of
    // bench history while measuring 0.4s isolated). Janino codegen is not
    // paid once here: a catalog pass generates about 3,600 classes (a
    // Verify pass at sf0.01), more than Sessions.CodegenCacheEntries, and the
    // cache is an LRU. So each query's first timed pass recompiles what the
    // warmup compiled for it; its second and third passes reuse it (no
    // query generates more than ~210 classes).
    // A failure is one stderr line (full name, exception class, message);
    // Throwable is caught so one query's OOM can't end the whole bench.
    def failed(phase: String, name: String, e: Throwable): Unit =
      System.err.println(s"[bench] $phase $name failed: " +
        s"${e.getClass.getName}: ${e.getMessage}".replace('\n', ' '))
    ordered.foreach { case (name, fn) =>
      try { fn(spark, sfDir).count() }
      catch { case e: Throwable => failed("warmup", name, e) }
      graft.core.CacheScope.drain()
    }
    // MEDIAN of three timed executions per query (warmup pass discarded
    // above). Round 11 showed adjacent identical sessions spreading 108 s
    // vs 135 s on one-off noise spikes (q150: 10.1 s vs 1.6 s) — a median
    // of three absorbs a single spike per query without the min's
    // best-case bias, and all three per-pass TOTALS are recorded in the
    // JSON so two closing runs can be compared for stability.
    // SPARK_GRAFT_BENCH_PASSES overrides for quick iteration.
    val nPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val errored = scala.collection.mutable.SortedSet.empty[String]
    val perPass = Array.fill(nPasses)(0.0)
    val allTimes = ordered.map { case (name, fn) =>
      val ts = (0 until nPasses).map { p =>
        // a crashed query must not masquerade as a fast one: record it for
        // the JSON's errors field (the harness keeps only a short output
        // tail, so a mid-run stack trace alone can scroll away unseen) and
        // report its first failure
        val (t, _) = graft.core.Timing.seconds {
          try { fn(spark, sfDir).count() }
          catch { case e: Throwable =>
            if (errored.add(name)) failed("timed", name, e)
            -1L
          }
        }
        // per-query cache release is part of session hygiene, not query
        // compute — drained outside the timed region
        graft.core.CacheScope.drain()
        perPass(p) += t
        t
      }
      name -> ts
    }
    val results = allTimes.map { case (name, ts) =>
      name -> ts.sorted.apply(nPasses / 2)
    }
    // The harness reading this line only keeps a ~2000-char tail of the run
    // output; even short qNN keys overflowed it at 159 queries (round 10's
    // line truncated mid-object and parsed as null). The FULL per-query map
    // now goes to BENCH_DETAIL.json next to the repo root, and the printed
    // line carries the aggregate plus only the slowest 40 queries — always
    // well inside the tail window, always a complete JSON object.
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def short(k: String): String =
      k.indexOf('_') match { case -1 => k; case i => k.substring(0, i) }
    def toJson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => graft.core.Jsons.str(short(k)) + ":" + f3(v) }
        .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // The streaming driver gates (qNN_stream_*) pay a fixed MemoryStream
    // micro-batch barrier floor per feed, not a data-scaling cost — broken
    // out so round-over-round comparisons of the batch total aren't
    // swamped by gate-harness latency.
    val streaming = results.filter(_._1.contains("_stream_")).map(_._2).sum
    val errs = errored.toSeq.map(graft.core.Jsons.str).mkString("[", ",", "]")
    val passes = perPass.map(f3).mkString("[", ",", "]")
    // Matched-window ratio vs the persisted DuckDB oracle measurement
    // (ORACLE_BASELINE.json, written by scripts/time_oracle.py): the naive
    // bench-total-vs-BASELINE comparison cried wolf for three rounds while
    // the matched-window ratio sat at parity, so the triage-grade numbers
    // now live IN the bench JSON. Sum the oracle seconds over exactly the
    // query set this run timed (minus streaming gates, whose Spark cost is
    // MemoryStream barrier latency, and minus the baseline's skip list),
    // then report the per-pass Spark totals over that same set and the
    // resulting ratio band. The baseline is a snapshot from a different
    // wall window — the BAND is the signal, a single point is not (see
    // BASELINE.md bracketing protocol); `oracle_meta` carries the
    // measurement date so staleness is visible.
    val oraclePath = sys.env.getOrElse("SPARK_GRAFT_ORACLE_BASELINE",
      "ORACLE_BASELINE.json")
    val maxOracleAgeS = sys.env
      .getOrElse("SPARK_GRAFT_ORACLE_MAX_AGE_S", "900").toLong
    // ---- Spark-side window-health anchor (round-16 verdict item 2) ----
    // Three fast catalog queries with committed clean-window references
    // (BASELINE.md round-15 closing, sf0.1: q01 0.213 s, q05 0.338 s,
    // q19 0.822 s) are already timed once per pass at their alphabetical
    // slots — q01 at the pass start, q05 just after, q19 mid-pass — so
    // each pass yields one interleaved health sample: (anchor wall sum) /
    // (reference sum), ~1.0 in a clean window, ~2.0 when the host has
    // decayed 2x. On this VM decay hits the barrier-heavy 32-thread JVM
    // and leaves single-threaded DuckDB untouched (round-16 driver run:
    // matching oracle times, 1.6x Spark totals), so the oracle ratio
    // alone cannot distinguish engine regression from host decay — the
    // health factor can, and ships IN the JSON so a decayed window is
    // self-labeling. References are sf0.1 measurements; the field only
    // appears at sf0.1.
    // References come from the committed baseline artifact (round-17 verdict
    // item 5: hardcoded literals go silently wrong after a hardware change
    // or a real optimization of the anchors themselves). The artifact is
    // re-measurable: scripts/time_oracle.py-style clean-window protocol,
    // values documented inside the file. Fallback to the round-15 closing
    // literals when the artifact is absent (e.g. a bare checkout), empty,
    // malformed or missing an anchor, so the field degrades to its pre-r18
    // behavior rather than vanishing. Every fallback warns on stderr and
    // is labeled in the JSON (`anchor_ref_source`).
    val anchorPath = sys.env.getOrElse("SPARK_GRAFT_ANCHOR_BASELINE",
      "ANCHOR_BASELINE.json")
    val (anchorRefs, anchorSource): (Map[String, Double], String) = {
      val fallback = Map(
        "q01_group_sum" -> 0.213, "q05_join_chain" -> 0.338,
        "q19_dedup_minhash" -> 0.822)
      def fallBack(why: String) = {
        System.err.println(s"[bench] WARNING: $why; window_health uses " +
          "the built-in round-15 anchor references")
        (fallback, "fallback")
      }
      try {
        val p = java.nio.file.Paths.get(anchorPath)
        if (!java.nio.file.Files.exists(p)) fallBack(s"$anchorPath not found")
        else {
          val txt = new String(java.nio.file.Files.readAllBytes(p),
            java.nio.charset.StandardCharsets.UTF_8)
          val m = parsePerQ(txt) // same "qNN...": <num> shape as oracle files
          val missing = fallback.keys.filterNot(m.contains).toSeq.sorted
          if (missing.isEmpty) (m, "file")
          else fallBack(s"$anchorPath is empty or malformed (no reference " +
            s"for ${missing.mkString(", ")})")
        }
      } catch {
        case e: Exception => fallBack(s"cannot read $anchorPath: $e")
      }
    }
    val windowHealth: Option[IndexedSeq[Double]] = {
      val sfName = sfDir.stripSuffix("/").split('/').last
      val anchors = allTimes.filter { case (n, _) =>
        anchorRefs.contains(n) && !errored.contains(n) }
      if (sfName != "sf0.1" || anchors.isEmpty) None
      else Some((0 until nPasses).map { p =>
        // MEDIAN of the per-anchor ratios, not a sum ratio: the anchors
        // are small (~2 s combined), so one stalled anchor execution
        // would dominate a summed estimate and overstate decay for a
        // pass whose other 220 queries ran clean (observed: health 2.74
        // on a pass whose matched total was only 1.2x the best pass's).
        // A median of three per-anchor ratios survives one stall.
        val ratios = anchors
          .map { case (n, ts) => ts(p) / anchorRefs(n) }.sorted
        ratios(ratios.size / 2)
      })
    }
    val windowHealthFields: String = (windowHealth match {
      case None => ""
      case Some(h) =>
        s""""window_health":${h.map(f3).mkString("[", ",", "]")},"""
    }) + s""""anchor_ref_source":"$anchorSource","""
    val oracleFields: String = {
      val sfName = sfDir.stripSuffix("/").split('/').last
      // (perQ, meta, age of the measurement in seconds at report time)
      val source: Option[(Map[String, Double], String, Long)] =
        freshOracle match {
          case Some(perQ) =>
            val age = (System.currentTimeMillis() - oracleMeasuredMs) / 1000L
            Some((perQ, s"in-window sf=$sfName skip+stream excluded", age))
          case None =>
            val p = java.nio.file.Paths.get(oraclePath)
            if (!java.nio.file.Files.exists(p)) None else {
              val txt = new String(java.nio.file.Files.readAllBytes(p),
                java.nio.charset.StandardCharsets.UTF_8)
              val sfOk = "\"sf\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(txt)
                .exists(_.group(1) == sfName)
              if (!sfOk) None else {
                val measured = "\"measured_utc\"\\s*:\\s*\"([^\"]+)\"".r
                  .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
                val age = try {
                  java.time.Duration.between(
                    java.time.OffsetDateTime.parse(measured).toInstant,
                    java.time.Instant.now()).getSeconds
                } catch { case _: Throwable => Long.MaxValue }
                Some((parsePerQ(txt), s"$measured sf=$sfName skip+stream excluded",
                  age))
              }
            }
        }
      source match {
        case None => ""
        case Some((perQ, meta, ageS)) =>
          // a query that errored contributes near-zero Spark wall time but
          // full oracle seconds — it must not bias the ratio toward parity.
          // oracleSkip applies on BOTH sources: the fresh path excludes
          // skip-listed queries at SQL-generation time, and without the
          // same filter here a snapshot containing one (e.g. q140) would
          // compute its band over a different query set than a fresh run.
          val matched = allTimes.collect {
            case (n, ts) if perQ.contains(n) && !n.contains("_stream_") &&
                !errored.contains(n) && !oracleSkip(n) =>
              n -> ts
          }
          val oracleS = matched.map { case (n, _) => perQ(n) }.sum
          if (oracleS <= 0.0 || matched.isEmpty) "" else {
            val passS = (0 until nPasses).map(p => matched.map(_._2(p)).sum)
            val ratios = passS.map(_ / oracleS)
            // the age gate exists for the SNAPSHOT fallback (a file from
            // some earlier wall window); a fresh measurement is in-window
            // by construction — its "age" is just this run's duration, so
            // suppressing on it would punish exactly the slow windows the
            // bracketing is for. BUT the fresh oracle runs BEFORE warmup
            // while the Spark passes span the whole bench: when that span
            // exceeds the max age, the two engines may straddle a decay
            // boundary, so the ratio ships with a drift-risk flag (the
            // window_health anchors are the arbiter in that case).
            val ratioField =
              if (freshOracle.isDefined)
                s""""ratio_windows":[${f3(ratios.min)},${f3(ratios.max)}],""" +
                  (if (ageS > maxOracleAgeS)
                    s""""oracle_window_drift_risk":true,"""
                  else "")
              else if (ageS <= maxOracleAgeS)
                s""""ratio_windows":[${f3(ratios.min)},${f3(ratios.max)}],"""
              else
                s""""ratio_windows_suppressed":"oracle snapshot ${ageS}s old """ +
                  s"""(max ${maxOracleAgeS}s) - re-run scripts/time_oracle.py","""
            // decay-normalized band: each pass's ratio divided by that
            // pass's window-health factor — the closest in-file estimate
            // of the clean-window ratio when the run landed in a decayed
            // window (Spark-asymmetric decay inflates ratios, health
            // deflates them back)
            val normField = windowHealth match {
              case Some(h) if h.size == ratios.size && h.forall(_ > 0) =>
                val norm = ratios.zip(h).map { case (r, f) => r / f }
                s""""ratio_windows_healthnorm":[${f3(norm.min)},${f3(norm.max)}],"""
              case _ => ""
            }
            s""""oracle_s":${f3(oracleS)},"oracle_n":${matched.size},""" +
              s""""oracle_age_s":$ageS,""" +
              s""""oracle_meta":${graft.core.Jsons.str(meta)},""" +
              s""""matched_pass_s":${passS.map(f3).mkString("[", ",", "]")},""" +
              ratioField + normField
          }
      }
    }
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      "BENCH_DETAIL.json")
    val sfJson = graft.core.Jsons.str(sfDir)
    val detail = s"""{"metric":"total","value":${f3(total)},"unit":"sec",""" +
      s""""streaming_s":${f3(streaming)},"batch_s":${f3(total - streaming)},""" +
      s""""queries":${toJson(results)},"pass_totals":$passes,""" +
      s"""$windowHealthFields$oracleFields""" +
      s""""errors":$errs,"sf":$sfJson}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      detail.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val slowest = results.sortBy(-_._2).take(40).sortBy(_._1)
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec",""" +
      s""""streaming_s":${f3(streaming)},"batch_s":${f3(total - streaming)},""" +
      s""""queries":${toJson(slowest)},"n_queries":${results.size},""" +
      s""""pass_totals":$passes,""" +
      s""""detail":${graft.core.Jsons.str(detailPath)},""" +
      s"""$windowHealthFields$oracleFields""" +
      s""""errors":$errs,"sf":$sfJson}""")
    spark.stop()
  }
}
