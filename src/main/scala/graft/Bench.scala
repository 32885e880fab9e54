package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get()
    // noop sink: full query execution incl. every output column
    // (count() would let Catalyst prune map-only projections away),
    // without paying file-write I/O. Two timed passes; each query
    // reports its faster one (see below).
    // (construct, execute) seconds, or (-1,-1) on failure — a failed
    // query never reports a flattering near-zero time. Construction is
    // timed separately because a few queries do real work there
    // (etl_current_air parses HTML and upserts; x2_ivf_topk checks /
    // builds its index): folding that into "execution" would misstate
    // the per-query engine cost.
    def run(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Double) =
      try {
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); (-1.0, -1.0)
      }
    // two full passes; report each query's FASTER pass. Pass 1 doubles
    // as warm-up (JIT, file index, shuffle service), but on this box
    // run-to-run variance is ±35%, so min-of-two is a materially less
    // noisy estimator than "the second pass" at no extra cost.
    // SPARK_GRAFT_ONLY (comma-separated names) restricts the set for
    // dev iteration; the driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val queries = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    // Store audit: pass 1 may build stores (cold environment), but a
    // pass-2 miss on a build-once store means a fingerprint churned
    // mid-run and a "warm" store silently rebuilt. Reported per pass on
    // stderr and in target/bench.json.
    graft.operators.StoreStats.reset()
    val pass1 = queries.map { case (name, fn) => name -> run(name, fn) }
    val (h1, m1) = graft.operators.StoreStats.snapshot()
    graft.operators.StoreStats.reset()
    val pass2 = queries.map { case (name, fn) => name -> run(name, fn) }
    val (h2, m2) = graft.operators.StoreStats.snapshot()
    System.err.println(s"[bench] store pass1: $h1 hits, ${m1.values.sum} misses" +
      (if (m1.nonEmpty) m1.keys.toSeq.sorted.mkString(" (", ", ", ")") else ""))
    System.err.println(s"[bench] store pass2: $h2 hits, ${m2.values.sum} misses" +
      (if (m2.nonEmpty) m2.keys.toSeq.sorted.mkString(" (", ", ", ")") else ""))
    val results = queries.map { case (name, _) =>
      val (a, b) = (pass1(name), pass2(name))
      // a failure in EITHER pass reports -1: an intermittently-crashing
      // query must never look healthy in the metrics line
      name -> (if (a._1 < 0 || b._1 < 0) (-1.0, -1.0)
               else if (a._1 + a._2 <= b._1 + b._2) a else b)
    }
    def jmap(f: ((Double, Double)) => Double, digits: Int) = results
      .map { case (k, v) =>
        val x = if (v._1 < 0) -1.0 else f(v)
        val r = BigDecimal(x).setScale(digits, BigDecimal.RoundingMode.HALF_UP)
        s"\"" + k + "\":" + r.bigDecimal.stripTrailingZeros.toPlainString
      }
      .mkString("{", ",", "}")
    val total = results.values.filter(_._1 >= 0).map(v => v._1 + v._2).sum
    // Callers parse a bounded stdout tail, so two artifacts:
    //  - stdout: a compact line (3-decimal times, no construct map),
    //    then a tiny total-only line printed LAST so the tail holds it;
    //  - target/bench.json: the full-precision line incl. per-query
    //    construct times and the per-pass store-miss sets.
    // EXPECTED pass-1-only misses: first-touch existence probes of
    // fixtures a query CREATES on pass 1 and finds warm on pass 2 — the
    // `_dels` erasure tombstones, restore/DML `*-oracle` fixtures,
    // streamed run dirs. EXPECTED pass-2-only misses: none. Anything
    // else in p1_only / p2_only is a churned fingerprint and must be
    // root-caused, not averaged away.
    def jset(s: Iterable[String]) =
      s.toSeq.sorted.map(p => "\"" + p.replace("\"", "") + "\"").mkString("[", ",", "]")
    val missDiff = s""""store_miss_p1_only":${jset(m1.keySet -- m2.keySet)},"store_miss_p2_only":${jset(m2.keySet -- m1.keySet)},"store_miss_both":${(m1.keySet intersect m2.keySet).size}"""
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":${jmap(v => v._1 + v._2, 6)},"construct":${jmap(_._1, 6)},"store_miss_p1":${m1.values.sum},"store_miss_p2":${m2.values.sum},$missDiff,"sf":"$sfDir"}"""
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get("target/bench.json"), full + "\n")
    val line = s"""{"metric":"total","value":${BigDecimal(total).setScale(3, BigDecimal.RoundingMode.HALF_UP)},"unit":"sec","queries":${jmap(v => v._1 + v._2, 3)},"sf":"$sfDir"}"""
    println(line)
    // The compact map line outgrows the tail (~5 KB at 239 queries),
    // so the LAST line is a total-only summary (~90 bytes).
    val nFailed = results.values.count(_._1 < 0)
    val tiny = s"""{"metric":"total","value":${BigDecimal(total).setScale(3, BigDecimal.RoundingMode.HALF_UP)},"unit":"sec","n_queries":${results.size},"n_failed":$nFailed,"sf":"$sfDir"}"""
    println(tiny)
    spark.stop()
  }
}
