package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Dumps the formatted physical plans of the engine's load-bearing scans to
  * PLANS.md — the audit trail that the pushdowns the design depends on
  * (stored-fields point lookups, block-scan term and term-range pruning)
  * actually reach the Parquet readers. The term dictionary has no plan: it
  * is read once per segment and then answers on the driver.
  *
  * Usage: runMain graft.Plans [sfDir] [outMd]
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outMd = args.lift(1).getOrElse("PLANS.md")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val se = SparkEntry.searcherFor(spark, sfDir)
    val segDir = se.segments.head.dir
    def fmt(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        .linesIterator.takeWhile(l => !l.startsWith("===== Subqueries")).mkString("\n")

    val sections = Seq(
      ("Posting-block scan for one query's terms",
        "Only the query's terms' blocks are read; the sorted `term` column prunes " +
          "row groups, `bucket` carries the head-term salt.",
        fmt(spark.read.parquet(s"$segDir/postings")
          .where($"term".isin("data", "query"))
          .select($"term", $"bucket", $"firstDocId", $"numDocs"))),
      ("Complete multi-term rewrite (postings range semi-scan, no enumeration)",
        "Past the expansion cap, a prefix or range atom ships its term " +
          "range INTO the postings scan (GreaterThanOrEqual/LessThan on the " +
          "sorted `term` in PushedFilters) — every matching term's blocks " +
          "return with no term list and no In(term, ...) filter, the " +
          "reference's CONSTANT_SCORE bitset rewrite shape " +
          "(`MultiTermQueryConstantScoreWrapper`). Other patterns read the " +
          "terms the segment's resident dictionary matches.",
        fmt(se.matching(graft.search.MultiTermDictQuery(
          graft.search.MultiTerm.Prefix("st"))).toDF())),
      ("Stored-fields point lookup (top-k fetch)",
        "A <= k+slack hit list point-looks-up `docId IN (...)` on the docId-sorted " +
          "docs table instead of scanning + joining the whole corpus per query.",
        fmt(se.docsForIds(Seq(1L, 5L, 9L)))),
      ("Feature posting lookup (FeatureField static ranking signal)",
        "A FeatureQuery reads exactly its feature term's posting blocks — " +
          "the same sorted-term pushdown as text terms (EqualTo on term in " +
          "PushedFilters); a static ranking signal costs one extra pushed " +
          "point-scan, never a docs-table join.",
        fmt(spark.read.parquet(s"$segDir/postings")
          .where($"term" === graft.index.FeatureIndexer.featureTerm("pagerank"))
          .select($"term", $"bucket", $"firstDocId", $"numDocs"))),
      ("Scalar-quantized ANN ranking (1-byte codes, no global sort)",
        "The quantize→dequantize→cosine pipeline stays a narrow projected " +
          "scan feeding `TakeOrderedAndProject` (per-partition heaps) — " +
          "at scale the persisted form is the 1-byte `array<tinyint>` codes, " +
          "a 4x scan reduction over float32.",
        fmt(graft.pipeline.Quantize.topK(
          spark.read.parquet(s"$sfDir/embeddings.parquet"),
          "vec_id", "embedding", queryId = 0L, k = 10))),
      ("Benchmark decontamination (eval shingles broadcast)",
        "The eval set's distinct shingles arrive at every train partition " +
          "via BroadcastExchange (benchmarks are small; the train corpus is " +
          "not) — both the contamination count join and the final LeftAnti " +
          "are broadcast joins, so the train side never shuffles its text.",
        fmt {
          val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          graft.pipeline.Dedup.decontaminate(
            docs.where($"doc_id" % 50 =!= 0), "doc_id", "text",
            docs.where($"doc_id" % 50 === 0), "text", w = 3)
        }),
      ("Sequence packing (bucket-partitioned window, never a global sort)",
        "The global-cumsum semantics execute as a window partitioned by the " +
          "16-bit hash bucket (`partitionBy __b`) after a metadata-sized " +
          "offsets broadcast — the largest single-task sort is " +
          "corpus/2^16, and no `WindowExec: No Partition Defined` appears.",
        fmt {
          val docs = spark.read.parquet(s"$sfDir/documents.parquet")
            .select($"doc_id", size(split($"text", " ")).cast("bigint").as("ntok"))
          graft.pipeline.Sampling.packSequences(docs, "doc_id", "ntok", 2048L)
        }),
      ("URL canonicalization + capture dedup (one shuffle, pure codegen)",
        "The whole canonicalization (scheme/host case, default ports, " +
          "trailing slash, tracking-param drop, query sort) is regular " +
          "column functions inside one `*(n)` codegen stage over the scan; " +
          "the only exchange is the hash partition on the canonical key for " +
          "the max_by/count aggregate — `dedup_exact`'s scale shape.",
        fmt {
          val docs = spark.read.parquet(s"$sfDir/documents.parquet")
            .select($"doc_id", concat(lit("https://s"),
              ($"doc_id" % 50).cast("string"),
              lit(".example.com/p/"), ($"doc_id" % 200).cast("string"),
              lit("?utm_source=x&a=1")).as("url"))
          graft.pipeline.UrlOps.latestCapture(docs, "url", "doc_id", "doc_id")
        }),
      ("Exact substring dedup (window verdict join, per-doc reassembly)",
        "The Lee-et-al duplicated-span removal as four balanced shuffles: " +
          "window occurrences stay (key, doc, start) rows — the 64-bit " +
          "md5-prefix key aggregates with partial agg (HashAggregate " +
          "before the exchange), the verdict joins back on the same key " +
          "(AQE splits Zipf-head boilerplate windows), coverage collapses " +
          "per doc (collect_set bounded by doc length), and the residue " +
          "re-joins the token arrays. Nothing broadcast, nothing on the " +
          "driver.",
        fmt(graft.pipeline.Dedup.substringDedup(
          spark.read.parquet(s"$sfDir/documents.parquet"),
          "doc_id", "text", w = 5))),
      ("Anchor extraction (zero-shuffle link explode)",
        "One whole-link regexp_extract_all + explode + per-link re-extract: a " +
          "single Project/Generate chain with NO Exchange — link extraction " +
          "runs at scan speed regardless of corpus size.",
        fmt(graft.pipeline.UrlOps.anchorPairs(
          spark.read.parquet(s"$sfDir/documents.parquet")
            .select($"doc_id", concat(lit("<a href=\"https://x.com/"),
              $"doc_id", lit("\">t</a>")).as("html")), "html"))),
      ("PageRank superstep (one join + one agg per iteration)",
        "A single iteration's update: edges⋈ranks hash join on src, hash " +
          "aggregation on dst, dangling mass as a 1-row broadcast nested loop " +
          "— two shuffles per superstep, both on O(N)-row sides; the edge " +
          "table is pre-hashed once and reused.",
        {
          val docs = spark.read.parquet(s"$sfDir/documents.parquet")
            .select($"doc_id")
          val edges = docs.select($"doc_id".as("src"),
            (($"doc_id" + 1) % 100).as("dst"))
          // checkpointEvery=2 keeps the superstep plan visible (the
          // default materializes per iteration into a LogicalRDD)
          fmt(graft.pipeline.WebGraph.pageRank(docs, "doc_id",
            edges, "src", "dst", iters = 1, checkpointEvery = 2))
        }),
      ("Redirect-chain folding (pointer doubling, log-bounded self-joins)",
        "A 4-hop budget resolves in log2(4) = 2 doubling passes — each pass " +
          "ONE left self-join composing the map with itself (f := f∘f), " +
          "never a per-hop loop; cycles saturate at maxHops instead of " +
          "looping the driver. Shown without the per-round localCheckpoint " +
          "so both passes appear in one explain (production keeps the " +
          "checkpoint, the PageRank superstep discipline).",
        fmt {
          val docs = spark.read.parquet(s"$sfDir/documents.parquet")
            .select($"doc_id")
          val edges = docs.where($"doc_id" % 5 === 1 || $"doc_id" % 5 === 2)
            .select($"doc_id".as("src"), ($"doc_id" + 1).as("dst"))
          graft.pipeline.UrlOps.resolveRedirects(edges, "src", "dst",
            maxHops = 4, checkpoint = false)
        }),
      ("Robots.txt longest-match decisions (broadcast rule group)",
        "The crawl-config-sized rule group arrives at every path partition " +
          "via BroadcastExchange; the regexp_like theta-join and the " +
          "longest-pattern max_by aggregate are the only operators — one " +
          "broadcast + one hash agg, linear in paths, nothing shuffles " +
          "the path table except the final agg on its own id.",
        fmt {
          val docs = spark.read.parquet(s"$sfDir/documents.parquet")
            .select($"doc_id", concat(lit("/p/"),
              ($"doc_id" % 40).cast("string")).as("path"))
          graft.pipeline.UrlOps.robotsDecisions(docs, "doc_id", "path",
            Seq(("/p/", false), ("/p/1", true)))
        }),
      ("Binary-quantized rescore (1-bit estimator cut, bounded exact pass)",
        "Stage 1 scans only (id, 64-bit code) — the asymmetric estimator is " +
          "pure bit arithmetic inside codegen feeding TakeOrderedAndProject " +
          "(per-partition heaps, never a global sort); stage 2's exact " +
          "cosine touches only the c candidate ids via a join back to the " +
          "float vectors. At 100 TB the scan is 8 bytes/vector (64x under " +
          "float32) and the exact pass is corpus-independent.",
        fmt(graft.pipeline.Quantize.bqTopKRescored(
          spark.read.parquet(s"$sfDir/embeddings.parquet"),
          "vec_id", "embedding", queryId = 0L, k = 10, c = 50))),
      ("Multi-range doc-values predicate (coalesced OR-of-bands pushdown)",
        "Four requested ranges coalesce to two disjoint bands before the " +
          "scan; the Or(And(GreaterThanOrEqual, LessThanOrEqual), ...) " +
          "predicate reaches PushedFilters, so Parquet row-group min/max " +
          "pruning skips stripes outside every band — the BKD-less Q17 " +
          "design extended to range DISJUNCTIONS.",
        fmt(spark.read.parquet(s"$sfDir/documents.parquet")
          .where(graft.index.DocValues.multiRangePredicate($"n_chars",
            Seq((120L, 180L), (181L, 240L), (150L, 260L), (400L, 520L))))
          .select($"doc_id", $"n_chars"))),
      ("DSIR weight join (bucket-bounded model broadcasts)",
        "The hashed n-gram model collapses to <= `buckets` rows behind a " +
          "partial agg, then re-attaches to the gram stream as a " +
          "BroadcastHashJoin — the corpus-sized side never shuffles on the " +
          "model key; the only wide stages are the model's bounded agg and " +
          "the per-doc weight agg.",
        fmt(graft.pipeline.Sampling.dsirSelect(
          spark.read.parquet(s"$sfDir/documents.parquet"),
          "doc_id", "text", isTarget = $"lang" === "en",
          buckets = 1024, keepFrac = 0.25))),
      ("Codegen'd vector dot product (vec_dot)",
        "The `*(n)` prefix marks whole-stage codegen: the native expression stays " +
          "inside the generated stage (interpreted higher-order functions would not).",
        spark.range(4)
          .select(transform(sequence(lit(1), lit(8)), i => (i + $"id").cast("double")).as("v"))
          .select(graft.functions.VecExpressions.vecDot($"v", $"v").as("d"))
          .queryExecution.executedPlan.toString)
    )

    val body = sections.map { case (title, note, plan) =>
      s"## $title\n\n$note\n\n```\n${plan.trim}\n```\n"
    }.mkString("\n")
    val header =
      s"""# PLANS — formatted physical plans of the load-bearing scans
         |
         |Generated by `runMain graft.Plans $sfDir` against a freshly built
         |segment. The point of each section is the `PushedFilters` line (or
         |the `*(n)` codegen marker): these are the properties the 100 TB
         |design depends on, asserted in spec form in `IndexSearchSpec`
         |("pushdown" test) and `VecExpressionsSpec`.
         |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(outMd),
      (header + "\n" + body).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[plans] wrote $outMd")
    spark.stop()
  }
}
