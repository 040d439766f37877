package graft.tools

import java.nio.file.{Files, Paths}

/** Writes PLANS.md: the formatted physical plan of each headline query
  * with a one-paragraph reading of why that shape is the one we want at
  * 100 TB. Regenerate after plan-affecting changes:
  *   runMain graft.tools.DumpPlans <sfDir>
  */
object DumpPlans {

  private val commentary: Seq[(String, String)] = Seq(
    "q1_agg" -> ("Scan-bound partial aggregation: HashAggregate appears " +
      "twice (map-side combine before the single exchange), the parquet " +
      "scan shows PushedFilters and a pruned ReadSchema. At 100 TB the " +
      "shuffle carries one row per (group, partition), not per input row."),
    "join_enrich" -> ("Dimension joins broadcast (BroadcastHashJoin, no " +
      "shuffle of the fact side). The build side is bounded by dim size " +
      "regardless of fact volume."),
    "q9_profit" -> ("The big fact join deliberately SHUFFLES (part would " +
      "not fit executor memory as a broadcast at 100 TB); AQE plus a " +
      "runtime bloom filter prune fact rows before the exchange."),
    "dedup_jaccard" -> ("Inverted-index self-join on 8-byte hashed " +
      "shingles; the df cap is a hash aggregate removed via broadcast " +
      "left-anti join — no sort-based window anywhere."),
    "neardup_lsh" -> ("Bucket exchanges carry (vec_id, table, bucket) " +
      "triples only — embeddings re-join just for the verified candidate " +
      "set. bits/tables self-size from the corpus count."),
    "dedup_substring" -> ("Only (fp, id, pos) triples shuffle; the " +
      "diagonal prefilter is a map-side-combinable hash aggregate that " +
      "shrinks the window's sort input to qualifying diagonals. Since " +
      "r06 the match table (winnow kernel + fp self-join) is " +
      "materialized once for its three differing-exchange consumers — " +
      "the visible plan starts at the checkpointed RDD; the match " +
      "stage's own exchanges are gated via substringMatchTable."),
    "contamination_check" -> ("The eval side broadcasts (BroadcastExchange); " +
      "the train corpus never shuffles before the join — tok-keyed " +
      "exchanges carry only aggregated (tok, count) partials for the df cap."),
    "ann_ivfpq" -> ("One shuffle-free index pass (cell + PQ codes); the " +
      "query scans ~nprobe/k of the corpus at 32x-compressed width and " +
      "ends in TakeOrderedAndProject (per-partition heaps, no full sort)."),
    "asof_join" -> ("Union + ONE keyed window — a single hash-partition " +
      "exchange on the join key, the same cost as a native as-of " +
      "sort-merge join, with no Join operator at all."),
    "vocab_topk" -> ("The canonical wordcount: codegen'd split+explode, " +
      "partial counts combine map-side, TakeOrderedAndProject caps the " +
      "result — the full vocabulary never collects anywhere."),
    "dedup_semantic" -> ("SemDeDup shape: ONE hash exchange on cell id, " +
      "then the pairwise compare runs inside partitions over sorted " +
      "same-cell runs. Cell count scales with the corpus and assignment " +
      "is two-level (coarse over fine centroids, O(sqrt k) per vector); " +
      "embeddings cross the exchange once, no self-join of the full corpus."),
    "line_dedup" -> ("Counting pass ships per-doc-distinct 8-byte line " +
      "fingerprints into a map-side-combined count; the removal pass is " +
      "a per-row kernel with NO exchange — document text never shuffles " +
      "in either pass."),
    "domain_cap" -> ("Two Window operators: phase 1 partitions by " +
      "(source, spark_partition_id) — the salt spreads a hot domain over " +
      "every upstream task — phase 2 exact-ranks the <= cap x P survivors. " +
      "AQE cannot split a window partition, so the naive single-window " +
      "spelling would pin a 10^9-row domain on one reducer."),
    "dedup_incremental" -> ("The new batch's band rows join the persisted " +
      "history index on (band, key); old x old pairs never re-mine and " +
      "history text is point-read only for verified candidates — the " +
      "daily-ingest loop touches the 10^12-doc corpus by id, not by scan."),
    "shard_pack" -> ("Two-phase distributed prefix sum over ONE " +
      "range-partitioned sort (phase 2 reuses the sort's shuffle files " +
      "as a skipped stage); the un-partitioned-window spelling the SQL " +
      "oracle uses would plan the whole corpus onto a single task."),
    "sketch_hll" -> ("The register build partial-aggregates map-side " +
      "(partial_max of rho), so each partition contributes <= m rows per " +
      "group to the exchange — the shuffle carries the SKETCH, never the " +
      "event stream. The register table is itself the mergeable artifact: " +
      "max over shards of it IS the union sketch."),
    "sketch_heavy" -> ("Per-partition space-saving kernels nominate <= k " +
      "candidates each (mapPartitions, no exchange); the exact counting " +
      "pass meets them via BroadcastHashJoin and partial_count collapses " +
      "survivors before the one exchange. The raw token stream is never " +
      "shuffled, yet the output is the exact > N/k set."),
    "quantile_exact" -> ("Value-histogram trick: the groupBy(group, v) " +
      "partial-aggregates map-side, so the exchange carries |distinct " +
      "values| partial counts, not |rows|; the per-group window then " +
      "sorts only histogram rows. No rangepartitioning anywhere — the " +
      "global-sort spelling this operator exists to avoid."),
    "bloom_seen" -> ("The history collapses to 64-bit words of OR'd " +
      "probe bits (map-side-combined bit_or, <= m/64 rows leave the " +
      "cluster) packed into a broadcast word-array literal; the batch " +
      "probe is a pure codegen projection (element_at + " +
      "shiftrightunsigned) — no join operator touches the probe side, " +
      "and the history is scanned exactly once. Scale envelope is " +
      "stated in the Scaladoc: 8 bits/key broadcasts to ~10^9 keys; " +
      "beyond that the same build shards by key-hash."),
    "sketch_cm" -> ("Count-Min build: the (row, bucket) counter " +
      "aggregation partial-combines map-side, bounding every " +
      "partition's exchange at d*w rows however many events scan in; " +
      "the d*w-row sketch then BROADCASTS to the probe side. The only " +
      "key-cardinality shuffle is the exact per-key count — the " +
      "comparison output itself, not the sketch path."),
    "graph_pagerank" -> ("Each rank round is one shuffle join (edges x " +
      "ranks on src) plus a map-side-combined contribution sum " +
      "(partial_sum); per-round localCheckpoint truncates lineage so the " +
      "iterative plan never re-optimizes a growing tower. Integer " +
      "fixed-point arithmetic makes the result partitioning-independent."),
    "crawl_diff" -> ("Both snapshots project to (key, sha256) BEFORE the " +
      "full-outer join, so the only exchanges carry 32-byte digests — " +
      "diffing 10^12 pages costs one fixed-width co-partitioned shuffle, " +
      "never a document-body move. With both snapshots bucketed by key " +
      "the exchange disappears entirely."),
    "anchor_topk" -> ("Per-anchor counts partial-combine map-side " +
      "(partial_count) and the top-1 window runs over the ALREADY " +
      "aggregated (target, anchor, cnt) rows; since r06 `mentions` is " +
      "the SUM of those per-anchor counts (sharing the (v, anchor) " +
      "exchange with the window) instead of a third full pass over the " +
      "link derivation. All aggregates share the target key, so the " +
      "final joins co-partition under AQE."),
    "sample_stratified" -> ("The capped-heap kernel (mapPartitions) " +
      "emits <= k candidates per (partition, stratum); every exchange " +
      "sits ABOVE the kernel's SerializeFromObject, so only " +
      "k*partitions fixed-width triples shuffle into the ranking " +
      "window. The row_number-over-everything spelling the oracle uses " +
      "would shuffle all 10^12 rows into per-stratum sorts."),
    "dedup_prefix" -> ("The shingle kernel reduces text to 8-byte " +
      "hashes before any exchange; df and within-doc ranking shuffle " +
      "fixed-width (id, hash, count) rows, and the candidate self-join " +
      "runs over PREFIX tokens only — hot shingles rank last in the " +
      "ascending-df order and almost never enter a prefix, so fan-out " +
      "concentrates on rare tokens (12x fewer candidates than " +
      "share-any-shingle at the driver tier) while the verified output " +
      "stays the exact threshold pair set."),
    "quantile_hdr" -> ("The log-bin build partial-aggregates map-side, " +
      "bounding every partition's exchange at ~8 bins/octave per group " +
      "at ANY value-domain size — the per-value histogram " +
      "quantile_exact ships would be unbounded on continuous domains. " +
      "No rangepartitioning anywhere; the bin table is the mergeable " +
      "artifact (per-shard histograms union by SUM)."),
    "search_lexical" -> ("Query-time lexical retrieval: the tiny query " +
      "bag BROADCASTS and semi-joins the token stream BEFORE any " +
      "aggregation, so only query-matching tokens ever shuffle; tf " +
      "partial-combines map-side and the ranking is one " +
      "TakeOrderedAndProject (per-partition heaps). A full-corpus tf " +
      "table here would be the inverted index — that's index_build's " +
      "job, not the query path's."),
    "index_build" -> ("Sort-based indexing (the classic MapReduce " +
      "shape): after the tokenize explode, exchanges carry only " +
      "(tok, doc_id, tf/df) rows — text never shuffles. df comes from " +
      "an agg + equi-join rather than a count-over-window, so " +
      "stop-worded hot terms are decided from the aggregate alone and " +
      "never reach the per-term sort (the skew killer: a stopword's " +
      "posting sort at 10^12 docs would pin one reducer). Blocked " +
      "postings bound every output row at blockSize entries."),
    "url_filter" -> ("Per-row work is O(host labels): the suffix chain " +
      "explodes to <= a handful of rows and both entry kinds resolve " +
      "as BroadcastHashJoin equi-probes — no LIKE/regex scan of the " +
      "list, no NestedLoop anywhere. The winner rule is a " +
      "map-side-combinable min(struct) aggregate, not a window."),
    "robots_eval" -> ("ONE equi-join on host — the rules side is NOT " +
      "assumed broadcastable (millions of hosts x dozens of rules at " +
      "web scale; AQE broadcasts it when tiny, co-partitions when " +
      "not). Longest-match winner is a map-side-combinable " +
      "min(struct) aggregate keyed by doc, so the exchange above the " +
      "join carries one row per (doc, partition), and the fact side " +
      "shuffles at most once."),
    "quality_nb" -> ("Train + apply in one plan: per-token class " +
      "counts partial-combine map-side (vocab-bounded exchange), the " +
      "weight table stays DISTRIBUTED (millions of rows at web scale " +
      "— never collected or assumed broadcastable; the planner " +
      "broadcasts only when it measures it tiny), and the per-doc " +
      "score sum partial-combines again. The only collect is the " +
      "1-row (N1, N0, V) aggregate."),
    "seq_pack" -> ("Two-phase prefix sum over ONE range-partitioned " +
      "sort (a deliberate RDD island, like shard_pack): phase 1 " +
      "collects |partitions| longs, phase 2 re-tokenizes in place " +
      "(recompute beats shuffling token strings) and folds " +
      "per-(doc, seq) partials BEFORE the exchange — the hash " +
      "aggregate above the ExistingRDD sees ~seqLen-fold fewer rows " +
      "than tokens, and document text never leaves its scan task. " +
      "The naive global-window-over-exploded-tokens spelling (the " +
      "oracle's) is a one-task trap twice over."),
    "html_links" -> ("Pure per-row kernel above the scan: one pooled " +
      "arena-parser instance per partition (no per-row parser " +
      "allocation — the north rule's pooled-tokenizer discipline), " +
      "no exchange anywhere; output rows are fixed-width link " +
      "tuples, never the page body. Feeds anchor_topk / " +
      "graph_pagerank / the crawl frontier."),
    "cdx_build" -> ("ONE exchange: groupByKey on doc_id/16 co-locates " +
      "each archive's records (the bytes ANY archive writer must " +
      "move), then encode + member-index + per-member point-read all " +
      "run inside the task. Nothing downstream shuffles; output is " +
      "fixed-width index rows. At 100 TB this is the cdx job Common " +
      "Crawl runs next to every crawl."),
    "text_derep" -> ("Pure per-row kernel — the only exchange is the " +
      "result sort. Per-row state is a HashSet over the row's OWN " +
      "line fingerprints (page-bounded); at 100 TB this transform " +
      "rides the extraction scan for free."),
    "crawl_schedule" -> ("One window exchange on host (the per-host " +
      "serial queue IS the semantics of politeness), then a LEFT " +
      "join to the delay table — rank-only window state, no " +
      "buffering; a pathological frontier host is what the upstream " +
      "domain cap truncates."),
    "decontam_apply" -> ("The contaminated-id set is mined by the " +
      "broadcast-eval contamination plan and applied as a broadcast " +
      "LEFT ANTI join — the train corpus' text never crosses an " +
      "exchange on either the mine or the drop path."),
    "select_dsir" -> ("Two kernel scans bracket a B-bounded exchange: " +
      "bucket count partials (≤ 4096 rows/partition however big the " +
      "corpus), the 8·B-byte weight array broadcasts back, and " +
      "selection is TakeOrderedAndProject + a broadcast top-k flag " +
      "join. Document text never shuffles; nothing in the plan grows " +
      "with corpus size except the scans."),
    "sitemap_parse" -> ("Same shape as html_links: pooled arena parser " +
      "per partition, zero exchanges above the scan (bar the result " +
      "sort); output rows are short (loc, lastmod, priority) tuples."),
    "c4_filter" -> ("Pure per-row kernel like text_derep: every C4 " +
      "rule evaluates inside the scan task, zero exchanges bar the " +
      "result sort. At 100 TB this and quality_nb are the two " +
      "highest-volume filter passes — both ride the scan."),
    "redirect_resolve" -> ("Pointer doubling: each round is ONE " +
      "self-join on 8-byte keys (src, cur, hops on the wire — never " +
      "urls), lineage truncated per round; a 2^k-hop chain resolves " +
      "in k rounds where a per-hop walk pays k shuffles for a k-hop " +
      "chain. Cycles surface as a flag, not an infinite loop."),
    "robots_parse" -> ("Per-row parse of KB-sized robots bodies — " +
      "rides the fetch scan, no exchange; feeds robotsEval's rule " +
      "table and politenessSchedule's crawl delays."),
    "host_quality" -> ("One map-side-combined aggregation keyed by " +
      "host plus a 1-row global collect; the shrinkage projection is " +
      "pure BIGINT floor arithmetic, so results are exactly " +
      "partitioning-independent at any scale."),
    "dedup_keep_best" -> ("Cluster pick WITHOUT a window: the best " +
      "member per component is a map-side-combinable min(struct) " +
      "aggregate, then an id equi-join of the component-bounded best " +
      "table — a row_number window here would sort every cluster's " +
      "members; the agg collapses them map-side."),
    "frontier_build" -> ("The crawl-side composition: blocklist anti, " +
      "robots semi, politeness window. The gate id-sets are " +
      "DELIBERATELY un-hinted — blocked/allowed are " +
      "corpus-proportional, so at 10^12 urls these joins must be free " +
      "to shuffle; AQE broadcasts them only when they measure small " +
      "(as at this tier)."))

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.tools.DumpPlans <sfDir>")
      sys.exit(2)
    }
    val sfDir = args(0)
    // a fixed width: the dumped plans show partition counts
    val spark = graft.util.Sessions.local(8, "graft-plans")
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of the headline queries (generated)\n\n")
    sb.append(s"Generated by `runMain graft.tools.DumpPlans $sfDir` — regenerate\n")
    sb.append("after plan-affecting changes. Plan INVARIANTS are enforced by\n")
    sb.append("PlanQualitySpec; this file is the human-readable reading of why\n")
    sb.append("each shape survives a 100 TB / 1000-executor deployment.\n")
    commentary.foreach { case (name, note) =>
      val plan = graft.SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n$note\n\n```\n")
      // the operator tree + the first exchange/scan details carry the
      // information; full codegen listings would drown the reader
      sb.append(plan.linesIterator.take(80).mkString("\n"))
      sb.append("\n```\n")
    }
    Files.write(Paths.get("PLANS.md"), sb.toString.getBytes("UTF-8"))
    println(s"wrote PLANS.md (${commentary.size} queries)")
    spark.stop()
  }
}
