package graft
object Bench {

  /** The BENCH_r{N} round slot this run belongs to — pure so the
    * precedence is spec-pinned (BenchRoundSpec). A rerun within one
    * round must resolve the SAME slot, including the round-boundary
    * bench run that fires after the judge writes the closing round's
    * verdict. Precedence:
    *
    *  1. SPARK_GRAFT_ROUND — driver-exported, authoritative;
    *  2. PROGRESS.jsonl's LAST entry's "round" — the driver appends
    *     entries throughout a round and starts the next round's entries
    *     only after the boundary, so at the boundary bench run the last
    *     entry still names the CLOSING round;
    *  3. VERDICT.md "Round N" header + 1 — correct mid-round, but at
    *     the boundary the header already names the closing round, so
    *     +1 claims the NEXT round's slot (the BENCH_r14-early
    *     recurrence flagged in rounds 12 and 13 — which is why
    *     PROGRESS outranks it);
    *  4. max(BENCH_r*) + 1 — first run in a fresh repo only.
    */
  private[graft] def resolveRound(env: Option[String],
      progressLines: Seq[String], verdictHead: Option[String],
      fileNames: Seq[String]): Option[Int] = {
    val fromEnv = env.flatMap(s => scala.util.Try(s.trim.toInt).toOption)
    val progressRe = "\"round\"\\s*:\\s*(\\d+)".r
    val fromProgress = progressLines.lastOption
      .flatMap(l => progressRe.findFirstMatchIn(l).map(_.group(1).toInt))
    val fromVerdict = verdictHead
      .flatMap(h => "Round (\\d+)".r.findFirstMatchIn(h)
        .map(_.group(1).toInt + 1))
    val roundRe = "BENCH_r(\\d+)\\.json".r
    val fromFiles = fileNames
      .flatMap(f => roundRe.findFirstMatchIn(f).map(_.group(1).toInt))
      .maxOption.map(_ + 1)
    fromEnv.orElse(fromProgress).orElse(fromVerdict).orElse(fromFiles)
  }

  /** Whether a resolved round slot may be WRITTEN. The inferred sources
    * (PROGRESS/VERDICT/max-file) are ambiguous at the exact round
    * boundary in BOTH directions: verdict+1 once claimed the next
    * round's slot early (r13/r14 recurrence), and PROGRESS's last entry
    * can name the CLOSED round for the first bench of a new round run
    * before the driver appends that round's first entry — which would
    * silently clobber the closing round's committed record. So an
    * EXISTING slot file is only overwritten when the driver states the
    * round explicitly (SPARK_GRAFT_ROUND); inferred resolutions may
    * claim empty slots only.
    */
  private[graft] def slotWriteAllowed(envRound: Boolean,
      slotExists: Boolean): Boolean = envRound || !slotExists

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional regex arg filters the benched queries for local iteration
    // (mirrors Verify's third arg). The driver passes no args, so the
    // round artifact always covers the full inventory.
    val nameFilter = args.headOption.map(_.r)
    def selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      nameFilter.forall(_.findFirstIn(n).isDefined)
    }
    if (selected.isEmpty) {
      System.err.println(s"no queries match filter ${args.headOption}")
      sys.exit(2)
    }
    val spark = graft.core.EngineSession()
    // Layout canary (footer-only): name drifted testdata columns loudly
    // up front instead of benching the whole inventory against a broken
    // layout.
    graft.core.SchemaCanary.warn(spark, sfDir)
    // Untimed warmup: one small end-to-end query JITs the scan/agg/join
    // codegen paths and datasource init so the first timed query isn't
    // charged for session warmup. Runs against the SAME data dir the
    // bench targets (the entry query's fixed sf0.001 path may not exist
    // in every environment, which a swallow-all catch would hide).
    try SparkEntry.queries("q01_pricing_summary")(spark, sfDir).count()
    catch { case scala.util.control.NonFatal(t) =>
      System.err.println(s"warmup failed (continuing): $t") }
    // Three timed passes per query, report the min — local bench timings
    // are exposed to host-level noise (observed 2× swings on identical
    // binaries); the min is the stable estimate of the plan's cost.
    val passes = 3
    // A failing query must bench as a FAILURE, not as however long it ran
    // before throwing: its time is -1 and the error rides in "errors", so
    // a regression can never masquerade as a fast query.
    def pass(): Seq[(String, (Double, Option[String]))] =
      selected.map { case (name, fn) =>
        val t0 = System.nanoTime()
        // foreach(noop) consumes every fully-projected row — count()
        // would let Catalyst prune final projections and unreferenced
        // aggregate expressions, under-measuring expression-heavy
        // queries. NonFatal only: an OOM must abort the run, not land
        // as a "-1" in the record while later queries time a corrupted
        // heap.
        val err = try { fn(spark, sfDir).foreach(_ => ()); None }
          catch { case scala.util.control.NonFatal(t) =>
            Some(t.toString.replaceAll("\\s+", " ").take(300)) }
        val t = (System.nanoTime() - t0) / 1e9
        // Release pipeline caches so one query's persisted intermediates
        // never pin executor memory into the next query's run.
        graft.core.Caches.releaseAll()
        name -> (if (err.isDefined) -1.0 else t, err)
      }
    val results = (1 to passes).map(_ => pass().toMap)
      .reduce((a, b) => a.map { case (k, (v, e)) =>
        val (bv, be) = b(k)
        // min over SUCCESSFUL passes; any pass's failure is reported.
        val best = (v, bv) match {
          case (-1.0, x) => x
          case (x, -1.0) => x
          case (x, y) => math.min(x, y)
        }
        k -> (best, e.orElse(be))
      })
      .toSeq.sortBy(_._1)
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val qs = results.map { case (k, (v, _)) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, (_, Some(e))) =>
      jstr(k) + ":" + jstr(e) }
    val errJson = if (errs.isEmpty) "" else
      s""","errors":${errs.mkString("{", ",", "}")}"""
    val total = results.map(_._2._1).filter(_ >= 0).sum
    // Effective parallelism in the record: an ignored $SPARK_GRAFT_CPUS
    // (or a core-count probe that silently didn't take) is self-evident
    // from the artifact instead of needing a host inspection.
    val parallelism = spark.sparkContext.defaultParallelism
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","runs":$passes,"parallelism":$parallelism,"shuffle_partitions":$shufflePartitions$errJson}"""
    println(line)
    // A filtered run is a local probe — never let it clobber the
    // committed full-inventory records or emit a summary line the
    // driver could mistake for a full run.
    if (nameFilter.isDefined) { spark.stop(); return }
    // The driver's round artifact tail-scrapes ~2 KB of stdout, which
    // truncates the full per-query line mid-JSON (BENCH_r10 captured 58
    // of 146 queries, parsed: null — flagged three rounds running). Two
    // mitigations: (1) the LAST stdout line is a short, complete JSON
    // summary that always fits the tail window, so the scrape parses;
    // (2) the full structured line persists in-repo — BENCH_full.json
    // (committed per round) plus a best-effort BENCH_r{next}.json so
    // the round artifact slot holds the complete record when nothing
    // overwrites it.
    def write(path: String): Unit =
      try java.nio.file.Files.write(java.nio.file.Paths.get(path),
        (line + "\n").getBytes("UTF-8"))
      catch { case t: Throwable =>
        System.err.println(s"$path write failed: $t") }
    write(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_full.json"))
    // Only a driver-shaped run (no local output override) claims the
    // round slot — a local probe must never pollute BENCH_r*.json.
    // The round number must be RERUN-STABLE (a rerun or crash-recovery
    // pass within one round must overwrite its own slot, not claim the
    // next round's): SPARK_GRAFT_ROUND wins if the driver exports it;
    // otherwise the judge's VERDICT.md header ("Round N", written once
    // per round boundary) gives N+1 for the whole of the current round;
    // max(BENCH_r*)+1 is the last-resort guess (correct for the first
    // run of a round, the failure mode the other two sources fix).
    if (!sys.env.contains("SPARK_GRAFT_BENCH_OUT")) {
      def progressLines: Seq[String] =
        scala.util.Try {
          val src = scala.io.Source.fromFile("PROGRESS.jsonl")
          try src.getLines().toIndexedSeq finally src.close()
        }.getOrElse(Nil)
      def verdictHead: Option[String] =
        scala.util.Try {
          val src = scala.io.Source.fromFile("VERDICT.md")
          try src.getLines().take(3).mkString("\n") finally src.close()
        }.toOption
      def benchFiles: Seq[String] =
        Option(new java.io.File(".").listFiles()).toSeq.flatten
          .map(_.getName)
      resolveRound(sys.env.get("SPARK_GRAFT_ROUND"), progressLines,
          verdictHead, benchFiles)
        .foreach { r =>
          val slot = f"BENCH_r$r%02d.json"
          if (slotWriteAllowed(sys.env.contains("SPARK_GRAFT_ROUND"),
              new java.io.File(slot).exists())) write(slot)
          else System.err.println(
            s"$slot exists; not overwriting an inferred round slot " +
              "(set SPARK_GRAFT_ROUND to force)")
        }
    }
    println(s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""sf":"$sfDir","runs":$passes,"n_queries":${results.size},""" +
      s""""parallelism":$parallelism,""" +
      s""""queries_in":"BENCH_full.json"}""")
    spark.stop()
  }
}
