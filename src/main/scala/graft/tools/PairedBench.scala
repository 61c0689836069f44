package graft.tools

import org.apache.spark.sql.SparkSession

/** Paired same-window A/B bench (r18 VERDICT "what's missing" #2): two
  * code fingerprints measured INTERLEAVED in one sweep, so every
  * per-query comparison shares its load window by construction.
  *
  * The floor-matched history comparison ([[BenchCompare]]) can only
  * match runs by their saturation floor — a min of samples that
  * under-states sustained mid-band pressure, which is exactly how
  * r18-vs-r17 ended up unresolvable (+8% spread over untouched
  * queries, `q_p1_eq` +49% on a bare scan+filter). This mode removes
  * the inference: two JVMs — one per fingerprint's compiled classes —
  * run the COMMON query set in strict alternation (per query index i,
  * side A then side B, first-mover alternating by parity to cancel
  * ordering bias), synchronized through marker files, each timing its
  * own turns. Whatever the host is doing during query i hits both
  * sides back-to-back.
  *
  * Launching (the old side runs THIS class from the new build against
  * the OLD operator classes via classpath precedence — old classes
  * first, so every shared class loads old, and only classes absent
  * from the old build, like this one, load new; this preserves the old
  * side's exact code fingerprint, which is re-derived here from the
  * classloader's own resolution of `graft/SparkEntry.class` and so
  * provably matches the history's recorded fingerprint):
  *
  * {{{
  *   java <jdk17 opens> -Xmx8g \
  *     -cp "NEW_CLASSES:SPARK_JARS"             graft.tools.PairedBench a /tmp/paired
  *   java <jdk17 opens> -Xmx8g \
  *     -cp "OLD_CLASSES:NEW_CLASSES:SPARK_JARS" graft.tools.PairedBench b /tmp/paired
  * }}}
  *
  * Protocol (all via files in the sync dir): each side writes its
  * query-name list, side A warms up first (artifact ensure-builds must
  * not race cross-process), then B; both sample the saturation kernel;
  * A opens turn 0; turns strictly alternate; each side appends one
  * JSON line per query to `result-<role>.jsonl`; A merges both files
  * into the paired table (common-set totals, ratio, top movers) and
  * writes it to the output path. Reps per query (default 2, keep-min)
  * absorb one-off GC/JIT spikes; the keep-min warm bias is identical
  * on both sides, so the RATIO stays unbiased.
  *
  * This class must reference only API that exists in every fingerprint
  * it may be paired against (SparkEntry.queries, Dedup.releaseSlots,
  * Bench.satKernel — all present since r14): on the old side the
  * sibling graft classes resolve to the OLD build.
  */
object PairedBench {
  private def r3(v: Double): String =
    "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** Content fingerprint of the build THIS JVM resolves graft classes
    * from — the canonical [[CodeFp]] form, identical to what Bench
    * records in BENCH_FULL_HISTORY.jsonl regardless of runner (sbt
    * packaged jar vs plain-java classes dir).
    */
  private def codeFp: String = CodeFp.fingerprint(getClass.getClassLoader)

  /** Stale-marker guard (r19 ADVICE): a previously-used sync dir would
    * satisfy every await() instantly on old turn-N / ready / done-b
    * markers, silently losing the paired guarantee while the output
    * still claims paired:true. Before a side writes anything, the dir
    * may contain ONLY the peer's step-1 files (the peer cannot advance
    * past step 1 — its first await is on OUR names file): anything
    * else is residue from an earlier run. Returns the offending names
    * (sorted); non-empty → the run must abort.
    */
  def staleFiles(sync: java.nio.file.Path, other: String): Seq[String] = {
    // log-a/log-b are the launcher's stdout/stderr redirects, created
    // at process start BY this run (paired_launch.sh rm -rf's the dir
    // first) — they carry no protocol state, so they can't unpair a run
    val allowed = Set(s"label-$other.txt", s"names-$other.txt", s"up-$other",
      "log-a.txt", "log-b.txt")
    Option(sync.toFile.listFiles()).getOrElse(Array.empty[java.io.File])
      .map(_.getName).filterNot(allowed.contains).sorted.toSeq
  }

  def main(args: Array[String]): Unit = {
    val role = args(0)
    require(role == "a" || role == "b", s"role must be a|b, got $role")
    val other = if (role == "a") "b" else "a"
    val sync = java.nio.file.Paths.get(args(1))
    java.nio.file.Files.createDirectories(sync)
    val outPath = args.lift(2).getOrElse("/root/repo/PAIRED_BENCH.json")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PAIR_REPS", "2").toInt
    val waitMs = sys.env.getOrElse("SPARK_GRAFT_PAIR_WAIT_SEC", "900").toLong * 1000

    def p(name: String) = sync.resolve(name)
    val stale = staleFiles(sync, other)
    require(stale.isEmpty,
      s"[paired:$role] sync dir $sync holds stale run state " +
        s"(${stale.mkString(", ")}) — use a fresh empty dir")
    def mark(name: String): Unit = {
      try java.nio.file.Files.createFile(p(name))
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
      ()
    }
    def await(name: String): Unit = {
      val t0 = System.currentTimeMillis
      while (!java.nio.file.Files.exists(p(name))) {
        if (System.currentTimeMillis - t0 > waitMs)
          throw new IllegalStateException(s"[paired:$role] timed out waiting for $name")
        Thread.sleep(50)
      }
    }

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-paired-$role")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val fp = codeFp
    // Human-pinned side identity (e.g. "r18-final@6f68545-clean"): a
    // CLEAN rebuild of an old commit cannot reproduce the fingerprint
    // its original incremental build recorded in history (synthetic
    // class names — typecreatorN$M etc. — depend on the incremental-
    // compile history of the target dir), so the label, not the fp,
    // is what anchors an old side to its commit.
    val label = sys.env.getOrElse("SPARK_GRAFT_PAIR_LABEL", fp)
    java.nio.file.Files.writeString(
      sync.resolve(s"label-$role.txt"), label)
    System.err.println(s"[paired:$role] fingerprint $fp label $label")

    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def force(name: String): (Double, Double) = {
      val t0 = System.nanoTime(); val c0 = osBean.getProcessCpuTime
      try graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[paired:$role] $name failed: ${e.getMessage}")
        return (-1.0, -1.0)
      }
      ((System.nanoTime() - t0) / 1e9, (osBean.getProcessCpuTime - c0) / 1e9)
    }
    def rewarm(): Unit =
      for (f <- Option(new java.io.File(sfDir).listFiles()).getOrElse(Array.empty[java.io.File])
          if f.getName.endsWith(".parquet"))
        try spark.read.parquet(f.getPath)
          .select(org.apache.spark.sql.functions.lit(1)).write
          .format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
    var sinceHygiene = 0
    def hygiene(): Unit = {
      graft.operators.Dedup.releaseSlots()
      sinceHygiene += 1
      val rt = Runtime.getRuntime
      val pressured = rt.totalMemory() - rt.freeMemory() > rt.maxMemory() / 5 * 4
      if (pressured || sinceHygiene >= 8) {
        System.gc(); rewarm(); sinceHygiene = 0
      }
    }

    // 1. publish my query set; compute the common set once both exist.
    //    SPARK_GRAFT_ONLY narrows a dev iteration exactly as in Bench
    //    (set it identically on both sides).
    val only = sys.env.get("SPARK_GRAFT_ONLY").filter(_.trim.nonEmpty)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val myNames = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    java.nio.file.Files.writeString(p(s"names-$role.txt"), myNames.mkString("\n"))
    mark(s"up-$role")
    await(s"names-$other.txt"); await(s"up-$other")
    val otherNames = java.nio.file.Files.readString(p(s"names-$other.txt"))
      .split("\n").map(_.trim).filter(_.nonEmpty).toSet
    val names = myNames.filter(otherNames.contains)
    System.err.println(s"[paired:$role] common queries: ${names.size}")

    // 2. serialized warm-up (cross-process artifact ensure-builds must
    //    not race): A first, then B
    if (role == "b") await("warm-a")
    try graft.SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    for (n <- Seq("q_v9_indexed_range", "q_v10_ivf_kmeans", "q_v12_pq_adc",
        "q_v13_sq8", "q_v14_ivfpq", "q_v16_filtered_ivf", "q_v17_batch_ivfpq",
        "q_v18_ivfadc_residual", "q_d12_semdedup", "q_d16_incremental_neardup",
        "q_j6_bucketed_join", "q_z2_zorder_serve", "q_g1_knn_graph",
        "q_g2_pagerank", "q_h5_bm25_indexed",
        "q_d11_fuzzy_edit", "q_d15_overlap_kmv") if names.contains(n))
      { force(n); () }
    graft.operators.Dedup.releaseSlots()
    mark(s"warm-$role")

    // 3. start-of-run saturation floor (before turn 0 opens — windows
    //    may overlap the other side's warm-up tail, so the END sample,
    //    taken serialized below, is the cleaner one)
    val nThreads = math.min(cpus.toInt, Runtime.getRuntime.availableProcessors)
    graft.Bench.satKernel(nThreads) // JIT-warm, untimed
    val satStart = math.min(graft.Bench.satKernel(nThreads), graft.Bench.satKernel(nThreads))
    mark(s"ready-$role")
    await(s"ready-$other")
    if (role == "a") mark("turn-0")

    // 4. the interleaved sweep: turn 2i runs query i on its first
    //    mover, turn 2i+1 on the second; first-mover parity alternates
    val res = new java.io.PrintWriter(
      java.nio.file.Files.newBufferedWriter(p(s"result-$role.jsonl")))
    for (t <- 0 until 2 * names.size) {
      val i = t / 2
      val first = if (i % 2 == 0) "a" else "b"
      val mine = if (t % 2 == 0) role == first else role != first
      if (mine) {
        await(s"turn-$t")
        hygiene()
        val n = names(i)
        val runs = (1 to reps).map(_ => force(n))
        val ok = runs.filter(_._1 >= 0)
        val (w, c) = if (ok.isEmpty) (-1.0, -1.0) else ok.minBy(_._1)
        val repsJson = runs.map(r => r3(r._1)).mkString("[", ",", "]")
        res.println(s"""{"q":"$n","sec":${r3(w)},"cpu":${r3(c)},"reps":$repsJson}""")
        res.flush()
        mark(s"turn-${t + 1}")
      }
    }
    res.close()

    // 5. end-of-run saturation floor, serialized: B samples then marks
    //    done; A waits, samples quietly, then merges
    if (role == "b") {
      val satEnd = math.min(graft.Bench.satKernel(nThreads), graft.Bench.satKernel(nThreads))
      java.nio.file.Files.writeString(p("sat-b.txt"), s"${r3(satStart)} ${r3(satEnd)}")
      java.nio.file.Files.writeString(p("fp-b.txt"), fp)
      mark("done-b")
      spark.stop()
      return
    }
    await("done-b")
    val satEnd = math.min(graft.Bench.satKernel(nThreads), graft.Bench.satKernel(nThreads))
    java.nio.file.Files.writeString(p("sat-a.txt"), s"${r3(satStart)} ${r3(satEnd)}")

    // 6. merge (role a only)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    def readSide(r: String): Map[String, Double] =
      scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(p(s"result-$r.jsonl"))).asScala.toSeq
        .flatMap { line =>
          try {
            val j = JsonMethods.parse(line)
            (j \ "q", j \ "sec") match {
              case (JString(q), JDouble(s)) if s >= 0 => Some(q -> s)
              case _ => None
            }
          } catch { case scala.util.control.NonFatal(_) => None }
        }.toMap
    val qa = readSide("a"); val qb = readSide("b")
    val common = names.filter(n => qa.contains(n) && qb.contains(n))
    val totalA = common.map(qa).sum; val totalB = common.map(qb).sum
    // r19 ADVICE: an empty common set (or a side whose every run
    // failed) would put "NaN" in the ratio — invalid JSON that
    // BenchCompare.pairedFor then silently discards. Refuse to write
    // a record instead: a paired file with no evidence is worse than
    // no file.
    if (common.isEmpty || totalB <= 0 || totalA <= 0) {
      System.err.println(s"[paired:a] no usable common results " +
        s"(common=${common.size}, totalA=$totalA, totalB=$totalB) — " +
        "not writing a paired record")
      spark.stop()
      return
    }
    val movers = common.map(n => (n, qa(n), qb(n)))
      .sortBy { case (_, va, vb) => -math.abs(va - vb) }.take(12)
      .map { case (n, va, vb) =>
        s"""{"q":"$n","a":${r3(va)},"b":${r3(vb)},"delta":${r3(va - vb)}}"""
      }.mkString("[", ",", "]")
    val fpB = java.nio.file.Files.readString(p("fp-b.txt")).trim
    val labelB = java.nio.file.Files.readString(p("label-b.txt")).trim
    val satB = java.nio.file.Files.readString(p("sat-b.txt")).trim.split(" ")
    def qjson(m: Map[String, Double]) = common
      .map(n => "\"" + n + "\":" + r3(m(n))).mkString("{", ",", "}")
    val json =
      s"""{"paired":true,"fp_a":"$fp","fp_b":"$fpB",""" +
        s""""label_a":"$label","label_b":"$labelB","n_common":${common.size},""" +
        s""""reps":$reps,"total_a":${r3(totalA)},"total_b":${r3(totalB)},""" +
        s""""ratio_a_over_b":${r3(totalA / totalB)},""" +
        s""""sat_a":[${r3(satStart)},${r3(satEnd)}],"sat_b":[${satB.mkString(",")}],""" +
        s""""top_movers":$movers,"queries_a":${qjson(qa)},"queries_b":${qjson(qb)},""" +
        s""""sf":"$sfDir"}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json + "\n")
    java.nio.file.Files.writeString(p("PAIRED.json"), json + "\n")
    println(json)
    spark.stop()
  }
}
