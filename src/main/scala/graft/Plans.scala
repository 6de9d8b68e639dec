package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.extract.TripleExtract
import graft.fixtures.Fixtures
import graft.link.EntityLink
import graft.pipeline.KgPipeline

/** Dumps the formatted physical plans of the engine's key operators —
  * the human-readable companion to PlanSpec's assertions. Usage:
  * runMain graft.Plans > PLANS.md (markdown-ish output).
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val sf = "/root/testdata/sf0.001"
    val inputs = KgPipeline.fixtureInputs(spark, Fixtures.tiny)

    def show(title: String, note: String)(df: org.apache.spark.sql.DataFrame): Unit = {
      println(s"\n## $title\n\n$note\n\n```")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      println("```")
    }

    println("# PLANS - physical plans of the key operators")
    println("\nGenerated by `runMain graft.Plans`; asserted properties live in PlanSpec.")

    show("Parquet scan with pushdown",
      "Filter reaches the scan (PushedFilters) and only the projected columns are read (ReadSchema).")(
      SparkEntry.queries("q01_scan_project")(spark, sf))

    show("Extraction (pages -> assertions)",
      "Narrow codegen pipeline over the scan: the native sentence_matches generator via inline, NO Exchange.")(
      TripleExtract.assertions(inputs.pages))

    show("Entity linking",
      "Two BroadcastHashJoins against the per-alias candidate dictionary; the mention side never shuffles; argmax via higher-order functions.")(
      EntityLink.link(TripleExtract.assertions(inputs.pages), inputs.aliasDict, inputs.entityKeywords))

    show("Assertion pruning score",
      "Two-phase evidence aggregation (url-keyed first so hot triples spread), cardinality window, broadcast ontology + degree joins.")(
      graft.prune.AssertionPruning.score(
        EntityLink.link(TripleExtract.assertions(inputs.pages), inputs.aliasDict, inputs.entityKeywords),
        inputs.ontology))

    show("MinHash dedup bands (native Catalyst expression)",
      "text_minhash tokenizes + hashes byte slices in one compiled zero-allocation loop per row; bands derive via xxhash64.")(
      graft.dedup.PageDedup.droppedUrls(inputs.pages, "minhash"))

    show("Banded SimHash near-dup (q48)",
      "No CartesianProduct: 4 byte-bands, equi-join on (band, value), Hamming verify - the Manku WWW'07 shape.")(
      SparkEntry.queries("q48_simhash_neardup")(spark, sf))

    show("Duplicate-aware near-dup (q88)",
      "Exact-copy collapse BEFORE banding: the class groupBy shuffles only (doc_id, md5-hex) - document text stays narrow until the rep-only SimHash, and the pair join runs over distinct contents, making output volume linear in distinct contents instead of quadratic in copy multiplicity (the r7 sf1 soak measured q48 at 100.5x pairs for 10x data).")(
      SparkEntry.queries("q88_dup_aware_neardup")(spark, sf))

    show("Benchmark decontamination (q90)",
      "Asymmetric shape, unlike the near-dup pair ops: the benchmark shingle set (distinct, ~1% of docs) broadcasts into a LeftSemi hash join; the training side stays a narrow explode -> project -> keyed count. No pair materialization, no self-join.")(
      SparkEntry.queries("q90_decontaminate")(spark, sf))

    show("New-entity triage (q58)",
      "Vocabulary checks as left joins against distinct entity/relation sides (broadcast-sized); split rewrite is a union of narrow projections.")(
      SparkEntry.queries("q58_new_entity_triage")(spark, sf))

    show("Distributed dictionary ranking (large-key-set path)",
      "Dense ids without a one-task global sort: range partition + per-partition rank + broadcast offset prefix-sums. No SinglePartition exchange. Adaptive: key sets under 64k (like q10 at driver scale) take a one-window fast path with identical ids; shown here forced to the distributed plan.")(
      graft.core.Ids.dictionary(
        graft.queries.Q.triples(spark, sf).select(col("subject").as("entity")),
        "entity", smallThreshold = 0))

    show("Ranking protocol 50+50 (q57)",
      "Corruption candidates are hash-indexed picks into the dense entity dictionary (bounded attempts per block) - no test x entities CartesianProduct, no per-block full-entity sort.")(
      graft.prune.Sampling.rankingBlocks(
        graft.queries.Q.triples(spark, sf), nTest = 4, blockSize = 10))

    show("Target-component choice (q63)",
      "Per-component target counts from a semi-join aggregate, argmax via limit(1) on the aggregate, membership filter via broadcast join of the 1-row winner.")(
      SparkEntry.queries("q63_target_component")(spark, sf))

    show("MinHash+LSH near-dup (q40, native Md5MinHash)",
      "Signature is ONE narrow compiled expression per row (no shingle explode, no per-component aggregation); the only shuffles are the band-bucket equi-join and the final distinct.")(
      SparkEntry.queries("q40_minhash_lsh")(spark, sf))

    show("IVF ANN top-k (q69)",
      """Nearest-centroid assignment is a narrow per-row CentroidRanks expression (centroid matrix inside the expression node - no join, corpus never shuffles); probes equi-join inverted lists on cid and exact-rerank.
        |
        |**Centroid transport and task-binary size (r6).** The matrix rides in the
        |expression tree only while it is small: an inline matrix is serialized into
        |EVERY task binary (the `[[D@...]` literal in the plan nodes below), so
        |at the fixture default c=32 x dim=16 each task carries 4 KiB - irrelevant -
        |but at a production c ~ sqrt(10^9) ~ 31k x dim=16 it would be ~4 MB PER TASK,
        |i.e. ~128 GB of repeated serialization across a 32k-task stage. `Ann.centroidSource`
        |therefore switches to a torrent broadcast once the matrix crosses
        |`InlineCentroidLimitBytes` (128 KiB): the expression node then carries only the
        |`Broadcast` handle (tens of bytes), the matrix ships once per executor, and
        |`CentroidRanks` resolves `bc.value` once per deserialized expression instance
        |(never per row). Both transports are bit-identical - AnnSpec's c=1024 parity
        |test runs the same corpus through `InlineCentroids` and `BroadcastCentroids`
        |and asserts equal rank arrays, plus the cutover itself (c=32 inline,
        |c=1024 x 16 = exactly 128 KiB broadcast).""".stripMargin)(
      SparkEntry.queries("q69_ann_ivf_topk")(spark, sf))

    show("Gap sessionization (q76, session_window)",
      "Native session-window aggregation: one hash exchange on user_id, sessions merged in the aggregate - no self-join, no per-user sort beyond the window. The same plan runs under Structured Streaming with a watermark.")(
      SparkEntry.queries("q76_gap_sessions")(spark, sf))

    show("BM25 keyword search (q80)",
      "The corpus text explodes ONCE, inside the eager localCheckpoint of the query-term tf aggregate (r4 paid the explode 3x; a lazy shared tf never reuses under AQE, and a term-partitioned window would single-partition hot terms) - the final plan reads the checkpoint (Scan ExistingRDD), df is a tiny aggregate of it joined back, per-doc length is a narrow regexp_extract_all count; corpus stats ride as 1-row crossJoins; top-10 is a distributed TakeOrdered, NOT a global row_number window over the scored corpus.")(
      SparkEntry.queries("q80_bm25_search")(spark, sf))

    show("Near-dup cluster canonicalization (q81)",
      "Dedup's last step in one plan: banded-minhash pairs (native Md5MinHash, equi-join on band), connected components over ONLY the pair graph, corpus re-joined once (left) for singletons, keep = min-doc-id == component. Cluster sizes are a keyed aggregation - near-dup clusters are small by construction, no skew.")(
      SparkEntry.queries("q81_dedup_clusters")(spark, sf))

    show("Cross-document CDC chunk dedup (q77, native CdcBoundaries)",
      "Boundary detection is one compiled char loop per doc (native expression), chunk cut + md5 stay map-side; the ONLY exchange carries (chash, len, doc_id) rows - document text never shuffles (PlanSpec-asserted).")(
      SparkEntry.queries("q77_cdc_chunk_dedup")(spark, sf))

    show("Real image codec round-trip (q83, JDK PNG encode+decode)",
      "Pure per-row codec work through the typed MediaRow seam: one balance exchange on media_id, then encode -> binary payload -> decode -> exact-integer block sums all inside a single MapPartitions stage - no other shuffle, no driver round-trip; scales as pure map parallelism. q84 (JDK WAV/PCM) is the identical shape over the audio codec, and q85 (JDK multi-frame GIF video) the identical shape with the MapPartitions lambda a flatMap - one input clip fans out to one row per decoded frame inside the same single stage, no extra exchange.")(
      SparkEntry.queries("q83_image_decode")(spark, sf))

    show("Trained blend fit (q86, closed-form least squares)",
      "The five sufficient statistics are exact-integer sums in ONE map-side-combinable aggregation over the scored frame (order-independent, so distributed partials match any evaluation order bit-for-bit); each weight is one double division of int numerator over int det; the 1-row weight frame returns via BroadcastNestedLoopJoin - the corpus is aggregated once and never shuffled for the fit.")(
      SparkEntry.queries("q86_blend_fit")(spark, sf))

    show("Subgraph extraction, both modes (q87)",
      "Two frontier-join BFS walks (enclosing: one side-keyed loop covering both root-removed walks; union: one joint-seeded gather when uncapped) - every per-level step is an equi-join + anti-join on (edge_id[, side], node) with an eager localCheckpoint of ONLY the new frontier; the union beam labels inside flatMapGroups over gathered per-candidate subgraphs. Job count is fixed at ~3 per BFS level; frontier volume, not graph size, drives each join, and AQE can skew-split a hub candidate's frontier. Plan below shows the enclosing branch feeding the final union-all of modes.")(
      SparkEntry.queries("q87_subgraph_modes")(spark, sf))

    show("Rank-statistic AUC-PR (q55, deterministic-bucket global rank + running sum)",
      "r8 shape: the order key (score desc, event_id) is DERIVED - score is monotone in event_id % 100 - so bucketing by (event_id % 100, event_id DIV chunk) is an exact, sample-free prefix of the total order: per-group window (local rank + local running positive count) shifted by broadcast per-group prefix offsets from a map-side-combinable counts pass. No range sampling, no localCheckpoint, no SinglePartition WindowExec over data (the offsets window runs over the metadata-sized group table only). q15 AUC folds the offsets into its final aggregate with no join-back at all; q56 exact quantiles resolves its 5 target ranks on the driver from bounded per-bucket counts and windows only the <=5 buckets containing one.")(
      SparkEntry.queries("q55_auc_pr")(spark, sf))

    spark.stop()
  }
}
