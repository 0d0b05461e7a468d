package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Sampling}

/** Connected-components cluster formation and deterministic split/sampling. */
class CcSamplingSpec extends SparkTestBase {

  test("connected components: chains, triangles, singletons-by-absence") {
    import spark.implicits._
    // components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connected components: long path converges (pointer doubling)") {
    import spark.implicits._
    // a 64-node path — plain propagation needs 63 rounds; compression
    // must converge far faster than maxIter=20
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, "id_a", "id_b", maxIter = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 64 && got.values.forall(_ == 0L))
  }

  test("connected components: one Spark job per label round") {
    import spark.implicits._
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      .localCheckpoint(true) // pre-materialize so the listener sees only CC jobs
    // map Spark jobs to their SQL execution: the per-round convergence
    // check ("head at ...") must be a cheap scan over the checkpointed
    // labels (<= 2 jobs, no join/shuffle) — the old shape ran a
    // join + limit + count query per round
    val rounds = new java.util.concurrent.atomic.AtomicInteger(0)
    val (_, log) = countJobs(
      Dedup.connectedComponents(pairs, "id_a", "id_b", maxIter = 20,
        roundCounter = Some(rounds)))
    assert(rounds.get() > 0, "round counter not reported")
    val actions = log.executions.map { case (d, n) => (d.takeWhile(_ != ' '), n) }
    // exactly TWO executions per round (checkpoint materialize + the fused
    // changed-count), none of the old per-round join/count executions …
    val heads = actions.filter(_._1 == "head")
    assert(heads.size == rounds.get(),
      s"expected one head action per round, saw ${actions.map(_._1)}")
    assert(actions.size == 2 * rounds.get() + 2,
      s"expected 2/round + 2 init executions, saw ${actions.map(_._1)}")
    // … and the convergence check itself is a checkpoint-scan, not a join
    heads.foreach { case (_, nJobs) =>
      assert(nJobs <= 2, s"convergence check ran $nJobs jobs — expected a plain scan")
    }
  }

  test("splits: deterministic, stable, percentages roughly hold") {
    import spark.implicits._
    val df = (0L until 1000L).map(i => (i, s"s${i % 3}")).toDF("id", "stratum")
    val a = Sampling.assignSplits(df, "id").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val b = Sampling.assignSplits(df, "id").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(a == b) // rerun-stable
    // removing rows never moves survivors between splits
    val half = Sampling.assignSplits(df.where($"id" % 2 === 0), "id").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    half.foreach { case (id, s) => assert(a(id) == s) }
    val sizes = a.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(sizes("train") > 700 && sizes("train") < 900)
    assert(sizes("val") > 50 && sizes("val") < 150)
    assert(sizes("test") > 50 && sizes("test") < 150)
  }

  test("hashBucket matches the oracle's md5-hex arithmetic") {
    import spark.implicits._
    val got = Seq(123L).toDF("id")
      .select(Sampling.hashBucket($"id", 1000000000).as("b"))
      .head().getLong(0)
    // DuckDB: ('0x' || substr(md5('123'),1,8))::BIGINT % 1e9 = 539801954
    assert(got == 539801954L)
  }

  test("takeTokenBudget == global-window brute force at every boundary") {
    import spark.implicits._
    val n = 800L
    val df = (0L until n).map(i => (i, 5L + i % 37)).toDF("id", "ntok")
    // driver brute: global (hash32, id) order, cumulative <= budget
    def h32(i: Long): Long =
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(i.toString.getBytes("UTF-8"))
          .take(4).map(b => f"$b%02x").mkString, 16)
    val ordered = (0L until n).map(i => (i, 5L + i % 37)).sortBy { case (i, _) => (h32(i), i) }
    def brute(budget: Long): Set[Long] = {
      var cum = 0L
      ordered.takeWhile { case (_, t) => { cum += t; cum <= budget } }.map(_._1).toSet
    }
    val total = ordered.map(_._2).sum
    // budgets that land mid-bucket, at zero, and beyond the total
    for (budget <- Seq(0L, 137L, total / 3, total / 2, total - 1, total, total + 10)) {
      val got = Sampling.takeTokenBudget(df, "id", "ntok", budget)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got == brute(budget), s"token budget $budget drifted from global order")
    }
    // few-bucket edge: boundary bucket holds most of the data
    val got2 = Sampling.takeTokenBudget(df, "id", "ntok", total / 2, bucketBits = 1)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got2 == brute(total / 2))
    // recursion: windowRowsMax=4 forces the boundary bucket through
    // multiple bucket-prefix-sum levels (800 rows / 4-way buckets ≈ 4
    // levels) before the final bounded window — identical output
    for (budget <- Seq(137L, total / 3, total / 2, total - 1)) {
      val deep = Sampling.takeTokenBudget(df, "id", "ntok", budget,
        bucketBits = 2, windowRowsMax = 4)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(deep == brute(budget), s"recursive budget $budget drifted")
    }
  }

  test("packSequences == global concat-and-chunk; partitioning-independent") {
    import spark.implicits._
    val n = 900L
    val rows = (0L until n).map(i => (i, 3L + i % 41))
    val df = rows.toDF("id", "ntok")
    def h32(i: Long): Long =
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(i.toString.getBytes("UTF-8"))
          .take(4).map(b => f"$b%02x").mkString, 16)
    // driver brute: global (hash, id) order, exclusive prefix sums, chunk
    val seqLen = 64L
    var cum = 0L
    val brute = rows.sortBy { case (i, _) => (h32(i), i) }.map { case (i, t) =>
      val start = cum; cum += t
      (i, (start, start / seqLen, (start + t - 1) / seqLen))
    }.toMap
    def check(d: org.apache.spark.sql.DataFrame): Unit = {
      val got = Sampling.packSequences(d, "id", "ntok", seqLen)
        .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      assert(got == brute, "packing drifted from the global concat-and-chunk order")
    }
    check(df)
    check(df.repartition(7)) // pure function of (id, ntok): layout-independent
    // few-bucket edge: everything lands in 1-2 buckets
    val got2 = Sampling.packSequences(df, "id", "ntok", seqLen, bucketBits = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got2 == brute)
    // stream properties: offsets tile the token stream with no gaps/overlap
    val total = rows.map(_._2).sum
    val spans = brute.values.map(_._1).toSeq.sorted
    assert(spans.head == 0L && brute.values.map(_._1).toSet.size == rows.size)
    assert(cum == total)
  }

  test("packSequences/takeTokenBudget: ROWS frame on tied ids; NULL token algebra") {
    import spark.implicits._
    // Duplicate ids tie on the full (hash, id) order key. Under the pinned
    // ROWS frame each tied row still gets its own cumsum step; Spark's
    // RANGE default would hand BOTH peers the pair total as __end,
    // collapsing their start offsets and breaking the stream tiling.
    val rows = (0L until 50L).map(i => (i % 25L, 4L + (i % 25L) % 7))
    val df = rows.toDF("id", "ntok")
    val got = Sampling.packSequences(df, "id", "ntok", seqLen = 16L)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._2)
    assert(got.map(_._2).distinct.length == rows.size,
      "duplicate start offsets — RANGE-frame peer collapse")
    // starts tile the token stream: each start = previous start + ntok,
    // first at 0, final end = corpus total; bins derive exactly
    assert(got.head._2 == 0L)
    got.sliding(2).foreach {
      case Array((t, s, _, _), (_, s2, _, _)) => assert(s2 == s + t)
      case _ =>
    }
    val (lt, ls, _, _) = got.last
    assert(ls + lt == rows.map(_._2).sum)
    got.foreach { case (t, s, bf, bl) =>
      assert(bf == s / 16L && bl == (s + t - 1) / 16L)
    }
    // budget landing mid-pair: ROWS keeps exactly the prefix whose sum fits
    val budget = got.map(_._1).scanLeft(0L)(_ + _).drop(1)
      .takeWhile(_ <= 60L).lastOption.getOrElse(0L)
    val keptTok = Sampling.takeTokenBudget(df, "id", "ntok", 60L)
      .agg(sum($"ntok")).head().getLong(0)
    assert(keptTok == budget, s"kept $keptTok tokens, ROWS prefix is $budget")

    // NULL token count: start_off/bin_first/bin_last must all be NULL for
    // that row (the oracle's per-row algebra), while the stream around it
    // is unaffected (window sum skips NULLs in both engines)
    val nulls = Seq((1L, Some(5L)), (2L, None), (3L, Some(7L)))
      .toDF("id", "ntok")
    val ng = Sampling.packSequences(nulls, "id", "ntok", seqLen = 4L)
      .collect().map(r => r.getLong(0) ->
        (r.isNullAt(2), r.isNullAt(3), r.isNullAt(4))).toMap
    assert(ng(2L) == ((true, true, true)), "NULL ntok must yield NULL offsets/bins")
    assert(ng(1L) == ((false, false, false)) && ng(3L) == ((false, false, false)))
    val nstarts = Sampling.packSequences(nulls, "id", "ntok", seqLen = 4L)
      .where($"id" =!= 2L).collect().map(r => r.getLong(2)).toSet
    assert(nstarts == Set(0L, 5L) || nstarts == Set(0L, 7L))
  }

  test("resampleMixture: scarcest source caps; proportions approach targets") {
    import spark.implicits._
    // src a: 4000 rows, b: 1000, c: 500 — targets 1:1:1 → c passes whole,
    // a and b downsample toward 500 each
    val df = ((0L until 4000L).map(i => (i, "a")) ++
      (4000L until 5000L).map(i => (i, "b")) ++
      (5000L until 5500L).map(i => (i, "c"))).toDF("id", "src")
    val targets = Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0)
    val kept = Sampling.resampleMixture(df, "id", "src", targets)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val bySrc = kept.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySrc("c") == 500, "scarcest source must pass through whole")
    assert(math.abs(bySrc("a") - 500) < 100, s"src a kept ${bySrc("a")}, want ~500")
    assert(math.abs(bySrc("b") - 500) < 100, s"src b kept ${bySrc("b")}, want ~500")
    // stability: same result under different partitioning; unlisted drop
    val again = Sampling.resampleMixture(df.repartition(13), "id", "src", targets)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    val partial = Sampling.resampleMixture(df, "id", "src", Map("a" -> 1.0))
      .select($"src").distinct().collect().map(_.getString(0)).toSet
    assert(partial == Set("a"), "unlisted sources must drop")
  }

  test("dsirSelect: target-like raw docs outrank noise; cut size + stability") {
    import spark.implicits._
    // target: docs over a "clean" vocabulary. raw pool: half clean-like,
    // half noise over a disjoint vocabulary — DSIR must keep the clean-like
    // half (their hashed grams score high under the target model).
    val clean = Array("data", "table", "query", "scan", "merge", "sort")
    val noise = Array("zz1", "zz2", "zz3", "zz4", "zz5", "zz6")
    def text(words: Array[String], salt: Long) =
      (0 until 12).map(i => words(((salt + i * 7) % words.length).toInt)).mkString(" ")
    val rows =
      (0L until 100L).map(i => (i, text(clean, i), true)) ++      // target
      (100L until 150L).map(i => (i, text(clean, i), false)) ++   // raw, clean-like
      (150L until 200L).map(i => (i, text(noise, i), false))      // raw, noise
    val df = rows.toDF("id", "text", "tgt")
    val kept = Sampling.dsirSelect(df, "id", "text", col("tgt"),
      buckets = 256, keepFrac = 0.5)
    val ids = kept.collect().map(_.getLong(0)).toSet
    assert(ids.size == 50, s"keepFrac 0.5 of 100 raw docs must keep 50, got ${ids.size}")
    assert(ids.forall(i => i >= 100L && i < 150L),
      s"every kept doc must come from the clean-like raw slice, got ${ids.filter(_ >= 150L)}")
    // partition-independence: the kept set is a pure function of the data
    val again = Sampling.dsirSelect(df.repartition(13), "id", "text", col("tgt"),
      buckets = 256, keepFrac = 0.5).collect().map(_.getLong(0)).toSet
    assert(again == ids)
    // weights are the smoothed log-likelihood ratio: a noise doc scores
    // negative under the target model even at keepFrac = 1
    val all = Sampling.dsirSelect(df, "id", "text", col("tgt"),
      buckets = 256, keepFrac = 1.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(all.filterKeys(_ >= 150L).values.forall(_ < 0.0))
    assert(all.filterKeys(k => k >= 100L && k < 150L).values.forall(_ > 0.0))
  }

  test("sampleByStratum keeps a stable deterministic subset") {
    import spark.implicits._
    val df = (0L until 2000L).toDF("id")
    val kept = Sampling.sampleByStratum(df, "id", 0.25).collect().map(_.getLong(0)).toSet
    assert(math.abs(kept.size - 500) < 120)
    val again = Sampling.sampleByStratum(df, "id", 0.25).collect().map(_.getLong(0)).toSet
    assert(kept == again)
    // monotone: a larger fraction strictly contains the smaller one
    val more = Sampling.sampleByStratum(df, "id", 0.5).collect().map(_.getLong(0)).toSet
    assert(kept.subsetOf(more))
  }
}
