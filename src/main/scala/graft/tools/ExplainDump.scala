package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.corpus.SyntheticCorpus
import graft.index.{IndexBuilder, IndexParams}

/** Dumps `explain("formatted")` for the engine's load-bearing plans into
  * PLANS.md — the "is this the plan you'd want at 100 TB" evidence:
  * Parquet pushdown + partition pruning on the postings scan, the
  * exchange-free tf stage, broadcast joins where a dimension is small, and
  * no cartesian product anywhere in the dedup/ANN family.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .appName("graft-explain")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val work = Files.createTempDirectory("graft-explain").toString
    val pages = SyntheticCorpus.generate(spark, 2000, seed = 42L, partitions = 8)
    new IndexBuilder(spark, s"$work/idx",
      IndexParams(buckets = 8, shardSize = 512, blockSize = 64,
        buildPartitions = 8)).build(pages, "explain-fixture")
    val reader = new graft.query.IndexReader(spark, s"$work/idx")

    val docsDf = spark.read.parquet(s"$work/idx/docs")
    val sb = new StringBuilder
    sb.append("# PLANS — Catalyst evidence for the load-bearing operators\n\n")
    sb.append("Generated by `graft.tools.ExplainDump` (re-run any time: " +
      "`sbt \"runMain graft.tools.ExplainDump\"`). Annotations call out\n" +
      "what to look for; plans are `explain(\"formatted\")` output.\n")

    def dump(title: String, note: String, df: DataFrame): Unit = {
      sb.append(s"\n## $title\n\n$note\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("```\n")
    }

    dump("Postings scan for one query term",
      "Look for: `PartitionFilters: [bucket = …]` (directory pruning to the " +
        "term's hash bucket — at 10^12 docs this skips (B-1)/B of the index) " +
        "and `PushedFilters: [EqualTo(term,…)]` (row-group pruning inside " +
        "the bucket).",
      reader.segmentsFor(Seq("w00001")).toDF())

    dump("tf stage (per-doc term frequencies)",
      "Look for: NO `Exchange` anywhere — tokenization and tf-counting are " +
        "a narrow map over the docs scan (the SPIMI map phase). The naive " +
        "explode+groupBy formulation shuffles every token occurrence.",
      spark.read.parquet(s"$work/idx/docs").select($"docId", $"text")
        .as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, text) =>
          import scala.jdk.CollectionConverters._
          val (counts, dl) = graft.analyze.Analyzer.termFreqsLocal(text)
          counts.entrySet().asScala.iterator
            .map(kv => graft.index.TfRow(id, kv.getKey, kv.getValue, dl, null))
        }).toDF())

    dump("BM25 brute-force oracle (top-20)",
      "Look for: a single scan of docs, hash aggregates with partial " +
        "(map-side) combine, a broadcast of the tiny per-term df table, and " +
        "`TakeOrderedAndProject` instead of a global sort.",
      graft.query.BruteForce.topK(docsDf, "docId", "text",
        Seq("w00001", "the"), 20))

    val idxSearch = new graft.query.IndexSearch(spark, reader)
    // a route bound of -1 plans the distributed route, which queries over
    // 64 MiB of postings take; smaller ones collect the segment scan above
    // and run the same shard kernel on the driver. The same reader stores
    // no doc values and no dictionary, so mlt's term selection and facets
    // show the Spark plans a reader takes when those overflow its bound
    val distSearch = new graft.query.IndexSearch(spark,
      new graft.query.IndexReader(spark, s"$work/idx", -1L))
    dump("Index-served bool query (must/should/mustNot, top-15)",
      "Round-5 serving path: the r4 verdict's brute `Search.boolTopK` " +
        "re-tokenized the corpus per query. Distributed route (a query " +
        "over 64 MiB of postings). Look for: the ONLY file scans " +
        "are the postings store — `PartitionFilters: [bucket IN …]` + " +
        "`PushedFilters: [In(term, …)]` — no scan of docs/ anywhere; one " +
        "shard fan-out Exchange (groupByKey(shard) → dense-array scorer); " +
        "`TakeOrderedAndProject` over shards×k candidate rows.",
      distSearch.boolTopK(Seq("w00001"), Seq("the"), Seq("w00004"), 15))

    dump("Index-served more-like-this term selection",
      "Look for: the source doc's terms come from the tf/ artifact with " +
        "`PushedFilters: [IsNotNull(docId), EqualTo(docId,…)]` (row-group " +
        "pruning; bucket the artifact by docId at serving scale for " +
        "partition pruning) joined to the vocabulary-sized termstats/ " +
        "aggregate — the corpus text is never read.",
      distSearch.moreLikeThisTerms(17L, 8))

    dump("Index-served facets over the match set",
      "Look for: postings scan (bucket-pruned, term-pushed) decoded to " +
        "docIds, ONE distinct exchange sized by the match set, a LeftSemi " +
        "join against docs/ metadata whose ReadSchema carries only " +
        "(docId, lang) — the text column never leaves the Parquet footer.",
      distSearch.facets(Seq("w00002", "w00005"), "lang"))

    dump("Index-served fuzzy/suggest dictionary (termstats)",
      "Look for: the expansion dictionary is the termstats/ scan (term, " +
        "df, total_tf — vocabulary-sized) with the exact-preserving " +
        "length pre-filter; the brute form rebuilt this dictionary from " +
        "the corpus on every call.",
      idxSearch.fuzzyExpand("w0000", maxDist = 1))

    dump("Kafka wire decode (serde_format=json)",
      "Look for: one Project over the wire columns — from_json + metadata " +
        "aliases, NO Exchange. The decode adds zero cost to whatever the " +
        "connector scan produces; the option map is compiled at plan time.",
      graft.sources.Queues.decode(
        Seq(("logs", 0, 1L,
          new java.sql.Timestamp(0L), "k".getBytes, """{"a":1}""".getBytes))
          .toDF("topic", "partition", "offset", "timestamp", "key", "value"),
        graft.sources.Queues.KafkaTopic("logs", "g", serdeFormat = "json"),
        Some(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("a",
            org.apache.spark.sql.types.LongType))))))

    dump("SQS ReceiveMessage envelope decode",
      "Look for: from_json + ONE Generate (explode over Messages) + a " +
        "Project computing the in-plan MD5 verification and attribute " +
        "shaping — no Exchange, no UDF.",
      graft.sources.Queues.sqsReceive(
        Seq("""{"Messages":[]}""").toDF("resp"), "resp", "q"))

    dump("CloudWatch Logs sink batching",
      "Look for: exactly ONE Exchange — the (log_group, log_stream) keyed " +
        "shuffle; the greedy PutLogEvents fold runs inside each stream's " +
        "task over the sort_array'd events (sequential per stream like the " +
        "reference's buffer, parallel across streams); the oversized-event " +
        "quarantine branch is a shuffle-free Filter+Project union.",
      graft.sinks.CloudWatchLogs.assignBatches(
        Seq(("g", "s1", 1L, 1L, "aa")).toDF("g", "s", "ts", "id", "msg"),
        "g", "s", "ts", "id", "msg"))

    dump("SQS sink two-level batching",
      "Same shape as the CloudWatch fold: ONE Exchange on queue_url, the " +
        "nested events→messages→requests fold inside each queue's task — " +
        "sequential per queue exactly like the reference's per-queue open " +
        "batch, parallel across queues.",
      graft.sinks.SqsSink.assignBatches(
        Seq(("q1", 1L, 1L, "aa")).toDF("q", "ts", "id", "body"),
        "q", "ts", "id", "body"))

    dump("OTLP trace export (batched proto re-encode)",
      "Look for: NO Exchange anywhere — the per-event ResourceSpans " +
        "encode is a narrow map (SerializeFromObject/MapPartitions), the " +
        "count/byte batching a per-partition fold; batches are field-1 " +
        "byte concatenations, so nothing re-encodes at flush.",
      graft.sinks.OtlpExport.traceRequests(
        Seq(("0af7651916cd43dd8448eb211c80319c", "b7ad6b7169203331", "",
          null.asInstanceOf[String], "GET /api", "SPAN_KIND_SERVER",
          "svc-a", "scope1", 1000000L, 2000000L,
          Map("uid" -> "7"), "STATUS_CODE_OK"))
          .toDF("traceId", "spanId", "parentSpanId", "traceState", "name",
            "kind", "serviceName", "scopeName", "startTimeUnixNano",
            "endTimeUnixNano", "attributes", "statusCode")))

    dump("MinHash LSH near-dup candidates",
      "Look for: the self-join keyed on `(band, bandHash)` — a " +
        "`SortMergeJoin`/`ShuffledHashJoin` on the band key, never a " +
        "`CartesianProduct`; candidate pairs only materialize inside " +
        "buckets.",
      graft.ops.Dedup.minHashCandidates(
        docsDf.withColumnRenamed("docId", "doc_id"), "doc_id", "text"))

    dump("MinHash near-dups with verification (cache-free)",
      "Look for: the banded candidate join feeding a LeftSemi join back " +
        "against docs — exact-Jaccard verification recomputes shingles " +
        "ONLY for candidate ids (no corpus-wide persist, no full shingle " +
        "shuffle), and the verify join carries hashed shingles (8 B each).",
      graft.ops.Dedup.minHashNearDups(
        docsDf.withColumnRenamed("docId", "doc_id"), "doc_id", "text", 0.5))

    dump("n-gram Jaccard with hot-shingle cap",
      "Look for: ONE wide Exchange on the hashed shingle into an " +
        "ObjectHashAggregate (collect_list), a `size(ids) <= cap` filter " +
        "BEFORE pair generation, and pairs generated inside the array " +
        "(Generate over transform) — no raw shingle self-join, so a " +
        "boilerplate shingle shared by 10^6 docs cannot form a 10^12-pair " +
        "join group.",
      graft.ops.Dedup.ngramJaccardPairs(
        docsDf.withColumnRenamed("docId", "doc_id"), "doc_id", "text",
        3, 0.2, maxShingleDf = 50))

    dump("Connected components — one large-star∘small-star round",
      "Look for: two `Exchange hashpartitioning` on the node key with " +
        "partial_min before each (map-side combine — a hub's million " +
        "edges collapse to one min per map task), shuffled equi-joins, " +
        "and no `CartesianProduct`. The full operator iterates this " +
        "round to a fixed point with `localCheckpoint` truncating " +
        "lineage, so round k never replays rounds 0..k-1.",
      graft.ops.Graphs.smallStar(graft.ops.Graphs.largeStar(
        Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("u", "v"))))

    dump("Repetition signals (Gopher-style)",
      "Look for: NO `Exchange` — every n-gram/line statistic is a " +
        "per-row sorted-array fold inside one Project over the scan; a " +
        "100 TB corpus pass is embarrassingly parallel.",
      graft.ops.TextAnalysis.repetitionSignals(
        docsDf.withColumnRenamed("docId", "doc_id"), "doc_id", "text"))

    dump("Embedding cosine near-dup pairs (LSH bucket join)",
      "Look for: an equi-join on `(probe, bucket)` (never a " +
        "`CartesianProduct`) and the exact-cosine verify filter as a " +
        "codegen'd `veccosine` inside `WholeStageCodegen` — the fused " +
        "native expression replaced an interpreted HOF chain that cost " +
        "~100 µs per pair.",
      graft.ops.Similarity.cosineNearDups(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
        "vec_id", "embedding", threshold = 0.3, bits = 2, probeHamming = 1))

    dump("Decontamination (eval-set n-gram overlap)",
      "Look for: `BroadcastExchange` of the DISTINCT eval-gram hashes " +
        "feeding a `BroadcastHashJoin` on the corpus gram stream (the " +
        "corpus side never shuffles its text), then ONE " +
        "`Exchange hashpartitioning(doc_id)` whose input is only the " +
        "MATCHING (docId, gramHash) pairs — contamination is rare, so " +
        "that shuffle is tiny at any corpus size.",
      graft.ops.Curation.decontaminate(
        docsDf.withColumnRenamed("docId", "doc_id"), "doc_id", "text",
        docsDf.limit(50).withColumnRenamed("docId", "doc_id"), "text", n = 8))

    dump("Gopher quality filter",
      "Look for: NO `Exchange` — every rule (word counts, alpha/stopword " +
        "fractions, all repetition signals) folds per-row inside one " +
        "Project; filtering 100 TB is embarrassingly parallel and prunes " +
        "to (id, text) at the scan.",
      graft.ops.Curation.gopherFilter(
        docsDf.withColumnRenamed("docId", "doc_id"), "doc_id", "text"))

    dump("In-plan model inference (logistic head over embeddings)",
      "Look for: `vecdot` inside `WholeStageCodegen` over the embeddings " +
        "scan — weights fold into the plan as an array literal; no UDF, " +
        "no shuffle, no serving fleet. Opaque models swap in at the " +
        "batched `BatchModel` seam instead.",
      graft.ops.Inference.linearScore(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
        "vec_id", "embedding", (0 until 64).map(i => ((i * 37) % 19 - 9.5) / 10.0),
        bias = 0.1))

    dump("Sequence packing (token-budget layout)",
      "Look for: ONE `Exchange hashpartitioning` on the id-chunk key with " +
        "partial aggregation — and NO `Window` operator anywhere: the " +
        "naive `sum() OVER (ORDER BY id)` formulation funnels the whole " +
        "corpus through a single task; here the global prefix sum is " +
        "per-chunk totals + a driver prefix + a bounded per-chunk fold.",
      graft.ops.Curation.packSequences(
        docsDf.withColumnRenamed("docId", "doc_id"), "doc_id", "text",
        budgetTokens = 2048, chunk = 256))

    dump("Translate (dictionary enrichment)",
      "Look for: `BroadcastHashJoin` — the reference's in-heap dictionary " +
        "becomes a broadcast dimension; no shuffle of the fact side.",
      graft.pipeline.Processors.Translate("lang", "lang_name",
        Seq("en" -> "english", "de" -> "german"))(docsDf))

    dump("Aggregate count action (tumbling window)",
      "Look for: one `Exchange hashpartitioning` on the group keys with " +
        "partial_count before it (map-side combine) — the reference's " +
        "peer-forwarder hash-route collapsed into a single shuffle.",
      graft.pipeline.Aggregates.countAction(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
          .withColumn("ts", col("ts").cast("timestamp")),
        Seq("event_type"), "ts", "1 hour"))

    {
      // fixed-codebook IVF: assignment is a pure projection; after a
      // partitionBy(_cluster) write the probe filter is directory pruning
      val cents = Array.tabulate(4) { c =>
        Array.tabulate(8) { i =>
          val r = graft.util.SplitMix64.stream(100L + c, i.toLong)
          math.rint((r.nextDouble() * 2.0 - 1.0) * 1000.0) / 1000.0
        }
      }
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      graft.ops.Similarity.ivfAssignTo(emb, "embedding", cents)
        .write.mode("overwrite").partitionBy("_cluster")
        .parquet(s"$work/ivf")
      dump("IVF fixed-codebook probe (cluster-partitioned layout)",
        "Assignment (`ivfAssignTo`) is one codegen'd projection — no ML " +
          "runtime, no shuffle. After the partitionBy(_cluster) write, " +
          "look for `PartitionFilters: [_cluster IN (…)]` on the scan: " +
          "probing nprobe clusters reads nprobe directories, not the " +
          "corpus — at 10^12 vectors that is the whole game.",
        spark.read.parquet(s"$work/ivf")
          .filter(col("_cluster").isin(0L, 2L))
          .select(col("vec_id")))
    }

    // ---- round-4 operators ----
    locally {
      val tableDir = s"$work/iceberg"
      graft.sources.Iceberg.write(spark,
        docsDf.select($"docId", $"text",
          org.apache.spark.sql.functions.when($"docId" % 3 === 0, "en")
            .when($"docId" % 3 === 1, "de").otherwise("fr").as("lang")),
        tableDir, partitionCol = Some("lang"))
      val all = graft.sources.Iceberg.liveFiles(spark, tableDir)
      val en = all.count(_.partition("lang") == "en")
      dump("Iceberg pruned scan (own-kernel table-format reader)",
        s"Partition pruning happens at the MANIFEST level, before any " +
          s"Parquet footer opens: this table has ${all.size} live data " +
          s"files across 3 lang partitions, and the `lang = en` predicate " +
          s"hands the scan exactly $en of them (see the InMemoryFileIndex " +
          "path count). Everything above the scan was driver-side Avro " +
          "metadata — no Spark job ran to plan this.",
        graft.sources.Iceberg.read(spark, tableDir,
          partitionPredicate = p => p("lang") == "en").select("docId"))
    }

    dump("GateWhen (conditional processor gate)",
      "The generic row-local gate behind Logstash `if` blocks: look for " +
        "ONE `Project` over the scan — no Exchange, no second scan, no " +
        "union of filtered branches. Original values ride as pure column " +
        "refs and blend via `CASE WHEN`, so Catalyst prunes every unused " +
        "copy and the whole conditional stays inside WholeStageCodegen.",
      graft.pipeline.Processors.GateWhen(col("docId") % 2 === 0,
        graft.pipeline.Processors.UppercaseString("text"))(
        docsDf.select($"docId", $"text")))

    dump("geoip via MaxMind mmdb (broadcast range join)",
      "The mmdb decodes ONCE on the driver into the (cidr → value) " +
        "dimension (own-kernel reader); the fact side probes it with a " +
        "`BroadcastNestedLoopJoin` on `ip BETWEEN lo AND hi` — the tiny " +
        "dim broadcasts, the 10^12-row fact side never touches the binary.",
      graft.pipeline.Enrich.geoLookupMmdb(
        docsDf.select($"docId",
          org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.lit("10."),
            $"docId" % 200, org.apache.spark.sql.functions.lit(".0.1")).as("ip")),
        "ip", "net",
        graft.pipeline.Mmdb.write(Seq(
          "10.0.0.0/9" -> Map("net" -> Map("name" -> "net-low")),
          "10.128.0.0/9" -> Map("net" -> Map("name" -> "net-high")))),
        Seq("net", "name")))

    dump("Phrase top-k (positional index, per-shard fan-out)",
      "Distributed route, as the bool query above. " +
        "Same structural shape as WAND: bucket `PartitionFilters` + term " +
        "`PushedFilters` on the positional postings scan, ONE shuffle " +
        "(the groupByKey on shard), per-shard leapfrog intersection in " +
        "the flatMapGroups, then a tiny shards×k TakeOrdered. The " +
        "position payloads ride the same blocks and decode lazily only " +
        "on aligned documents.",
      {
        val posWork = Files.createTempDirectory("graft-explain-pos").toString
        new IndexBuilder(spark, s"$posWork/idx",
          IndexParams(buckets = 8, shardSize = 512, blockSize = 64,
            buildPartitions = 8, positions = true))
          .build(pages, "explain-pos-fixture")
        new graft.query.IndexReader(spark, s"$posWork/idx", -1L)
          .phraseTopK(Seq("the", "data"), 10)
      })

    dump("Bigram-LM perplexity (CCNet-style curation)",
      "Look for: the trained LM and its context totals join the exploded " +
        "candidate bigrams as `BroadcastHashJoin`s (the reference corpus " +
        "is bounded by contract), then ONE keyed HashAggregate with " +
        "partial (map-side) combine on docId — only (docId, partial sums) " +
        "leave a partition. The zero-shuffle broadcast-map variant " +
        "(`LangModel.perplexityBroadcast`) has no Exchange at all.",
      {
        val ref = docsDf.select($"docId", $"text").where($"docId" % 10 === 0)
        val lm = graft.ops.LangModel.trainBigrams(ref, "docId", "text")
        graft.ops.LangModel.perplexity(
          docsDf.select($"docId", $"text"), "docId", "text", lm)
      })

    dump("Hashed linear text classifier (fastText-style head)",
      "Look for: ONE `Project` over the scan — the token hash, the " +
        "weight-table lookup (folded array literal), the mean fold and " +
        "the sigmoid are all one codegen'd projection. No Exchange, no " +
        "Join: a 100 TB scoring pass never leaves the scan task.",
      graft.ops.Inference.hashedTextScore(
        docsDf.select($"docId", $"text"), "docId", "text",
        64, (0 until 64).map(i => ((i * 37) % 21 - 10) / 10.0), -0.1))

    dump("Line-level dedup (boilerplate removal)",
      "Look for: exactly TWO keyed Exchanges — the banned-line aggregate " +
        "(lines shuffle as 16-byte md5 keys, never text; distinct-doc " +
        "pre-aggregate combines map-side) and the per-document " +
        "reassembly — plus the LEFT ANTI join back (AQE broadcasts the " +
        "typically-tiny boilerplate set at runtime). No sort, no window, " +
        "no all-pairs structure.",
      graft.ops.Dedup.dedupLines(
        docsDf.select($"docId",
          concat($"text", lit("\nshared footer")).as("page")),
        "docId", "page", maxDocs = 100))

    dump("URL normalize + domain blocklist filter",
      "Look for: `BroadcastHashJoin … LeftAnti` — the corpus side never " +
        "shuffles; the canonicalization itself is regex Column algebra " +
        "inside the same projection.",
      graft.ops.Curation.domainFilter(
        docsDf.select($"docId",
          concat(lit("https://h"), $"docId" % 40, lit(".ex.com/p")).as("url")),
        "url", Seq("h0.ex.com", "h4.ex.com").toDF("host"), "host"))

    dump("Field-collapse top-k",
      "Look for: ONE Exchange on the collapse key feeding the window, " +
        "then `TakeOrderedAndProject` for the global k — no second " +
        "wide shuffle. The scored input at serving time is ≤ shards×k " +
        "rows from the WAND stage, so the window input is tiny by " +
        "construction.",
      graft.query.Search.collapseTopK(
        docsDf.select($"docId", ($"docId" % 13).cast("string").as("host"),
          (length($"text") / 7.0).as("score")),
        "host", "score", "docId", k = 20, perKey = 2))

    dump("Snippet / highlight generation",
      "Look for: ONE `Project` over the scan — candidate windows, the " +
        "distinct-term scores, the argmax and the <em> markup are all " +
        "Column algebra; no UDF, no Exchange. Highlighting rides the " +
        "result page's plan.",
      docsDf.select($"docId",
        graft.query.Snippets.snippet($"text", Seq("w00001", "w00002"), 8)
          .as("snippet")))

    dump("BPE encode (replace-chain Column path)",
      "Look for: ONE `Project` — the sentinel symbolization and every " +
        "merge's `replace` fold into a single codegen'd expression; a " +
        "10^12-token encode pass never leaves the scan task. (Production " +
        "vocabularies use the rank-map kernel at the same seam.)",
      docsDf.select($"docId",
        graft.ops.Bpe.encodeCol(substring($"text", 1, 16),
          Seq(("t", "h"), ("th", "e"), ("a", "n"))).as("bpe")))

    dump("CloudWatch Logs subscription decode",
      "Look for: one decode projection + one `Generate` (explode) — no " +
        "Exchange; the gunzip kernel is the documented UDF seam, " +
        "everything after it is from_json Column algebra.",
      graft.sources.Feeds.cloudwatchSubscription(
        docsDf.select($"docId", $"text".cast("binary").as("payload")),
        "payload"))

    dump("PQ encode + ADC top-k",
      "Look for: the encode is ONE `Project` (every sub-distance a " +
        "codegen'd vecdot; argmin = array_min over structs) and the ADC " +
        "query another Project + `TakeOrderedAndProject` — corpus " +
        "vectors are never touched at query time, only M array lookups " +
        "per row.",
      {
        val cbs = Array.tabulate(4)(m => Array.tabulate(8)(j =>
          Array.tabulate(16)(i => ((m * 31 + j * 7 + i) % 11 - 5) / 5.0)))
        graft.ops.Similarity.pqTopK(
          graft.ops.Similarity.pqEncode(
            spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
            "embedding", cbs),
          "vec_id", "pq_code", (0 until 64).map(i => (i % 7 - 3) / 3.0),
          cbs, k = 10)
      })

    dump("IVF-PQ encode + probed ADC top-k",
      "Look for: encode = coarse assignment + residual + PQ codes all in " +
        "ONE Project chain (no Exchange); the query side is a `Filter` on " +
        "_cluster (partition pruning under cluster-partitioned storage) + " +
        "a Project of per-cluster lookups + `TakeOrderedAndProject`.",
      {
        val cents = Array.tabulate(4)(c => Array.tabulate(64)(i =>
          ((c * 17 + i) % 9 - 4) / 4.0))
        val cbs = Array.tabulate(4)(m => Array.tabulate(8)(j =>
          Array.tabulate(16)(i => ((m * 31 + j * 7 + i) % 11 - 5) / 5.0)))
        graft.ops.Similarity.ivfPqTopK(
          graft.ops.Similarity.ivfPqEncode(
            spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
            "embedding", cents, cbs),
          "vec_id", "pq_code", (0 until 64).map(i => (i % 7 - 3) / 3.0),
          cents, cbs, k = 10, nprobe = 2)
      })

    dump("Boolean query (must / should / must_not)",
      "Look for: the BM25 aggregates plus a LeftSemi (must gate) and a " +
        "LeftAnti (must_not) keyed on docId — no new wide structure " +
        "beyond the scorer's own; presence checks reuse the tokens " +
        "relation.",
      graft.query.Search.boolTopK(
        docsDf.withColumnRenamed("docId", "doc_id"), "doc_id", "text",
        must = Seq("w00001"), should = Seq("the"), mustNot = Seq("w00002"),
        k = 10))

    dump("Temperature-flattened domain mixing",
      "Look for: the sampling pass is a `Filter` over the scan — one " +
        "codegen'd CASE of md5-prefix thresholds; the only aggregation " +
        "anywhere is the tiny domain-count collect that computed the " +
        "rates driver-side.",
      {
        val d = docsDf.select($"docId", $"text",
          ($"docId" % 3).cast("string").as("domain"))
        graft.ops.Sampling.temperatureSample(d, "docId", "domain", 2.0, 0.3)
      })

    dump("Kinesis KPL deaggregation",
      "Look for: one decode projection + one `Generate` — the own-kernel " +
        "proto reader runs inside the scan task, sub-records explode in " +
        "place, no Exchange.",
      graft.sources.KinesisAgg.deaggregate(
        docsDf.select($"docId", $"text".cast("binary").as("payload")),
        "payload"))

    dump("Kafka produce encode (write-schema + murmur2 partitioner)",
      "Look for: ONE Project, NO Exchange — key templating, murmur2 " +
        "partition assignment, and binary casts all ride the scan task; " +
        "`df.write.format(\"kafka\")` adds only the producer send.",
      graft.sources.Queues.produce(
        docsDf.select($"docId".as("id"), $"text".as("body")),
        "logs", "k-${id}", "body", numPartitions = 12))

    dump("SNS sink batching (range-partitioned distributed rank)",
      "Look for: the scan is the localCheckpoint'd RANGE repartition on " +
        "(ts, src_id) (lineage pinned so the count job and this plan see " +
        "the same partition ids); the window is PARTITIONED BY _pid — " +
        "one sampler-balanced range partition per group, NOT a " +
        "single-partition `row_number() OVER (ORDER BY ts)` window — and " +
        "the per-partition prefix offsets ride inline as a literal map " +
        "in the rank Project. The count-only PublishBatch flush ranks in " +
        "parallel where the byte folds above are inherently sequential " +
        "per key.",
      graft.sinks.SnsSink.assignBatches(
        docsDf.select(($"docId" % 100).as("ts"), $"docId".as("id"),
          $"text".as("msg")),
        "ts", "id", "msg",
        graft.sinks.SnsSink.Conf("arn:t.fifo", batchSize = 7)))

    dump("DynamoDB Streams CDC decode",
      "Look for: ONE decode Project (the recursive AttributeValue " +
        "unmarshal runs in the scan task) + ONE Exchange for the " +
        "per-second version window — millions of tiny second-groups, no " +
        "hot key, nothing driver-side.",
      graft.sources.Cdc.ddbStream(
        docsDf.select(concat(lit("""{"eventName":"INSERT","dynamodb":{""" +
          """"ApproximateCreationDateTime":"""), $"docId" % 100,
          lit(""","Keys":{"pk":{"S":"p"}},"NewImage":{"a":{"N":""""),
          $"docId", lit(""""}},"SequenceNumber":""""), $"docId",
          lit(""""}}""")).as("rec")),
        "rec", graft.sources.Cdc.DdbConf("tbl", "pk")))

    dump("Passage chunking (overlapping token windows)",
      "Look for: NO Exchange — tokenize, `sequence`+`transform`, one " +
        "Generate; chunks fan out inside the scan task. A join- or " +
        "window-based chunker would shuffle every token.",
      graft.ops.Curation.chunkPassages(
        docsDf.withColumnRenamed("docId", "doc_id"), "doc_id", "text",
        window = 32, stride = 24))

    dump("Token diversity (sorted-fold entropy)",
      "Look for: two keyed Exchanges — (doc, term) counts then per-doc " +
        "collect — and the entropy as ONE `aggregate` fold over the " +
        "term-sorted list in the final Project: accumulation order is a " +
        "pure function of the document, so the result is " +
        "partition-invariant and oracle-replayable bit-for-bit.",
      graft.ops.TextAnalysis.tokenDiversity(
        docsDf.withColumnRenamed("docId", "doc_id"), "doc_id", "text"))

    dump("Gap sessionization (batch session_window)",
      "Look for: ONE Exchange on the key — the lag/cumsum windows and " +
        "the session aggregate all reuse the same hash partitioning " +
        "(ENSURE_REQUIREMENTS inserts no second shuffle).",
      graft.pipeline.Aggregates.sessionize(
        docsDf.select(($"docId" % 50).as("user_id"),
          to_timestamp(from_unixtime($"docId" * 61)).as("ts")),
        Seq("user_id"), "ts", "5m"))

    dump("WARC crawl-archive decode",
      "Look for: one decode projection + one `Generate` (posexplode) — " +
        "no Exchange. The own-kernel record/gzip/HTTP parse runs inside " +
        "the scan task; a 100 TB crawl parallelizes one task per archive " +
        "file via the binaryFile source.",
      graft.sources.Warc.records(
        docsDf.select($"docId",
          udf((t: String) => graft.sources.Warc.encodeFile(Seq(
            graft.sources.Warc.responseRecord("https://x.example/p",
              "2026-01-01T00:00:00Z", t.getBytes("UTF-8")))))
            .apply($"text").as("content")),
        "content"))

    dump("robots.txt admission filter",
      "Look for: `BroadcastHashJoin … LeftOuter` on host — the per-host " +
        "rule arrays broadcast as dimension data and the URL corpus " +
        "never shuffles; the RFC 9309 longest-match argmax evaluates " +
        "inside ONE projection (JVM glob kernel), no candidate explode, " +
        "no per-URL aggregation.",
      graft.ops.Robots.filter(
        docsDf.select($"docId",
          concat(lit("https://h"), $"docId" % 40,
            lit(".ex.com/private/p")).as("url")),
        "url",
        graft.ops.Robots.rulesFor(
          Seq(("h0.ex.com", "User-agent: *\nDisallow: /private\n"))
            .toDF("host", "content"), "host", "content", "graftbot")))

    dump("Hybrid RRF fusion (lexical + vector top-N)",
      "Look for: the rank windows run over the two INPUT top-N lists " +
        "(bounded by construction — the corpus-scale work happened in " +
        "the retrievals that produced them), then one tiny union + " +
        "HashAggregate + `TakeOrderedAndProject`. No corpus-sized " +
        "structure anywhere in the fuse.",
      graft.query.Hybrid.rrf(Seq(
        docsDf.select($"docId", (length($"text") / 7.0).as("score"))
          .orderBy(desc("score"), $"docId").limit(20),
        docsDf.select($"docId", ($"docId" % 97 / 97.0).as("score"))
          .orderBy(desc("score"), $"docId").limit(20)),
        "docId", "score", k = 10))

    dump("Index-served prefix query (termstats expansion)",
      "Look for: the same bucket-`PartitionFilters` + `In(term, …)` " +
        "pushdown as every bool query — the expansion happened against " +
        "the vocabulary-sized termstats dictionary (sorted, capped at " +
        "max_expansions), never the corpus.",
      new graft.query.IndexSearch(spark, reader).prefixTopK("w0000", 10,
        maxExpansions = 25))

    dump("Index-served date histogram over the match set",
      "Look for: the postings scan (bucket-pruned, term-pushed) decodes " +
        "match docIds, a `LeftSemi` join gates the docId-keyed dimension, " +
        "and ONE HashAggregate buckets by `date_trunc` — the corpus text " +
        "is never read; deleted docs are excluded inside the decode " +
        "kernel with no plan change.",
      new graft.query.IndexSearch(spark, reader).dateHistogram(
        Seq("w00001", "w00002"),
        docsDf.select($"docId",
          to_timestamp(from_unixtime($"docId" * 86400)).as("ts")),
        "ts", "week"))

    // round-5 search surface: query_string / match_phrase_prefix /
    // rescore ride a positional index
    {
      val posWork = Files.createTempDirectory("graft-explain-qs").toString
      new IndexBuilder(spark, s"$posWork/idx",
        IndexParams(buckets = 8, shardSize = 512, blockSize = 64,
          buildPartitions = 8, positions = true))
        .build(pages, "explain-qs-fixture")
      // pinned to the distributed route, like the bool and phrase plans
      val qsSearch = new graft.query.IndexSearch(spark,
        new graft.query.IndexReader(spark, s"$posWork/idx", -1L))

      dump("Index-served query_string (one clause-kernel fan-out)",
        "Distributed route (a query over 64 MiB of postings). Look for: " +
          "ONE bucket-pruned postings scan (`PartitionFilters` + " +
          "`In(term, …)`) over every clause's terms, positions included " +
          "because a clause is a phrase; one shard fan-out Exchange " +
          "(groupByKey(shard) → the clause kernel, which folds term, " +
          "phrase and must_not clauses per shard); " +
          "`TakeOrderedAndProject` over shards×k candidate rows. No " +
          "pivot aggregate, no join, no corpus scan — the fuzzy and " +
          "wildcard expansions were resolved against termstats before " +
          "the plan was built.",
        qsSearch.queryStringTopK(
          "+the data^2 \"the data\"~1 -w00003 w0000* thw~1", 10,
          maxExpansions = 8))

      dump("Index-served match_phrase_prefix (union last slot)",
        "Look for: ONE postings scan covering exact slots + the " +
          "dictionary-capped expansion terms (all in `In(term, …)`), one " +
          "shard groupByKey, then TakeOrdered — identical shape to the " +
          "exact phrase plan; the expansion never widens the plan, only " +
          "the term predicate list.",
        qsSearch.phrasePrefixTopK(Seq("the", "w0000"), 10, slop = 1,
          maxExpansions = 8))

      dump("Index-served rescore (bool window + phrase re-rank)",
        "Look for: the primary window is the standard per-shard bool " +
          "top-k (window-many rows at most), and the phrase scorer joins " +
          "THAT window — the join input is window-sized, so the " +
          "re-rank cost is O(window), not O(corpus). The final " +
          "TakeOrdered caps the page at k.",
        qsSearch.rescoreTopK(Seq("the"), Seq("the", "data"), slop = 1,
          windowSize = 20, k = 10, rescoreWeight = 2.0))
    }

    {
      // multi_match over two field indexes: title = first-8-token slice
      val titleDir = s"$work/idx-title"
      val titled = SyntheticCorpus.titleField(
        docsDf.select($"url", $"text", $"lang"))
      new IndexBuilder(spark, titleDir,
        IndexParams(buckets = 8, shardSize = 512, blockSize = 64,
          buildPartitions = 8)).build(titled, "explain-titles")
      val textIs = new graft.query.IndexSearch(spark, reader)
      val titleIs = new graft.query.IndexSearch(spark, titleDir)

      dump("multi_match over two FIELD indexes (best_fields, tie 0.3)",
        "Look for: each field's scores as a `LocalTableScan` — one " +
          "routed clause-kernel read per field index (field-local stats, " +
          "no corpus scan, no per-field aggregate), then a union + ONE " +
          "combine aggregate and TakeOrderedAndProject. The postings " +
          "reads ran before the plan, one job per field.",
        graft.query.IndexSearch.multiMatchTopK(
          Seq(titleIs -> 2.0, textIs -> 1.0), Seq("the", "w00001"), 10,
          "best_fields", 0.3))

      dump("Composite aggregation page (two sources, after cursor)",
        "Look for: the match set is a semi-join of decoded postings " +
          "(bucket-pruned scans), buckets are ONE keyed HashAggregate " +
          "with map-side partials, the after cursor is a struct " +
          "comparison in a Filter, and the page is TakeOrderedAndProject" +
          " — per-page cost is O(match set), no state between pages.",
        textIs.compositeAgg(Seq("the"),
          docsDf.select($"docId", $"lang", length($"text").as("n")),
          Seq("lang" -> $"lang",
            "bucket" -> (floor($"n".cast("double") / 500.0) * 500.0)),
          size = 5, after = Some(Seq(lit("en"), lit(500.0)))))

      dump("SemDeDup (within-cluster pairwise cosine)",
        "Look for: cluster assignment is a codegen'd Project (the " +
          "literal-codebook argmax — no fit job), then ONE shuffle keyed " +
          "on _cluster feeding a SortMergeJoin/ShuffledHashJoin whose " +
          "join key is the cluster — the pair space is bounded by " +
          "cluster sizes; there is NO CartesianProduct anywhere.",
        graft.ops.Dedup.semDedup(
          spark.read.parquet(s"$work/idx/docs")
            .select($"docId".as("vec_id"),
              array_repeat(($"docId" % 7).cast("float") / 7.0f, 8)
                .as("embedding")),
          "vec_id", "embedding",
          Array.tabulate(4)(i => Array.fill(8)(i * 0.25 - 0.375)), 0.5))
    }

    {
      import graft.pipeline.Encryption
      val key = java.util.Base64.getEncoder.encodeToString(
        "0123456789abcdef".getBytes("UTF-8"))
      val enc = Encryption.encryptColumn(
        docsDf.select($"docId", $"text"), "text", "enc", key)
      dump("Envelope encrypt + decrypt (round trip)",
        "Look for: ZERO `Exchange` operators — envelope encryption is a " +
          "per-row byte transform; the data-key unwrap happened once on " +
          "the driver, so the whole round trip is one narrow projection " +
          "chain over the scan, linear at any corpus size.",
        Encryption.decryptColumn(enc, "enc", "enc_key", "plain"))

      val panw = docsDf.select($"docId".as("src_id").cast("string"),
        lit("2024-03-01T10:15:00").as("Start_Time"),
        lit("2024-03-01T10:15:05").as("Receive_Time"),
        lit("10.0.0.1").as("Source_Address"),
        lit("192.168.1.9").as("Destination_Address"),
        lit("tcp").as("Protocol"), lit(100L).as("Bytes_Sent"),
        lit(10L).as("Bytes_Received"), lit("r1").as("Rule_Name"))
      val yaml =
        """panw:
          |  source:
          |    in_memory:
          |      testing_key: panw
          |  processor:
          |    - ocsf:
          |        type: palo_alto_networks_traffic_logs
          |        version: '1.1'
          |  sink:
          |    - stdout:
          |""".stripMargin
      dump("Transformed OCSF pipeline (rule + template expansion, compiled)",
        "The transform itself is driver-side config rewriting (no plan); " +
          "this is the pipeline it EMITS, compiled. Look for: the whole " +
          "OCSF v1.1 mapping (2 date parses, casts, a dozen added " +
          "columns, renames, projection) folds into ONE whole-stage-" +
          "codegen Project over the scan — zero exchanges, zero UDFs.",
        graft.pipeline.Transforms.compile(spark, yaml,
          Seq(graft.pipeline.Transforms.ocsfBundle),
          inputs = Map("panw" -> panw)).head.df)
    }

    val out = Paths.get("PLANS.md").toAbsolutePath
    Files.writeString(out, sb.toString)
    println(s"wrote $out (${sb.length} chars)")
    spark.stop()
  }
}
