package graft

import java.nio.file.{Files, Paths}

/** Regenerates PLANS.md: the executed physical plans of the headline
  * queries with the scale-relevant properties called out. Run with
  * `sbt "runMain graft.Plans"`. */
object Plans {

  private case class Entry(name: String, note: String)

  private val entries = Seq(
    Entry("q_geo_flagship",
      "The reference's flagship spatial aggregation. No exchange carries " +
        "geometry bytes, only the three integer grouping keys. On a narrow " +
        "scan (fewer splits than cores, as here) one range exchange on those " +
        "keys, before any geometry is built, serves both the union aggregate " +
        "and the final sort; on a wide scan the union aggregate runs map-side " +
        "partial, then a hash exchange on the keys, then a range exchange for " +
        "the sort. The union runs as ObjectHashAggregate; the 25-row region " +
        "table broadcasts and joins once, AFTER the aggregate: region_id is " +
        "a group key, so that inner join drops exactly the groups a join " +
        "before the aggregate would have emptied."),
    Entry("q_s3_pushdown",
      "Predicate and projection both reach the parquet scan: PushedFilters " +
        "carries the quantity filter, ReadSchema is exactly the three output " +
        "columns."),
    Entry("q_j1_broadcast_agg",
      "The reference's only join shape: dimension side broadcast, fact side " +
        "never shuffled for the join; aggregation is partial+final."),
    Entry("q_bucketed_join",
      "Both sides bucketed+sorted on the join key: the sort-merge join " +
        "consumes bucket layout directly — no hashpartitioning exchange " +
        "under the join."),
    Entry("q_dedup_minhash",
      "Banded MinHash LSH: one signature pass, candidates generated inside " +
        "(band, bucket) groups — no self-join, no cross join; the verify " +
        "stage joins only the candidate pair ids back to text."),
    Entry("q_sim_topk",
      "Brute-force cosine: the query vector is a folded literal (no join); " +
        "top-k executes as TakeOrderedAndProject, not a global sort."),
    Entry("q_sessionize",
      "Gap sessionization: one exchange on user_id; both windows and the " +
        "final aggregate reuse that partitioning."),
    Entry("q_asof_join",
      "As-of join composed as union + last-non-null window: every row " +
        "crosses exactly one shuffle on the key (the union's branches " +
        "exchange straight into the window's distribution — no aggregate, " +
        "no per-row probing, window state is one row)."),
    Entry("q_emb_centroid",
      "Element-wise vector aggregation: slice-then-posexplode generates " +
        "exactly the needed (label, dim) rows; partial aggregation " +
        "combines map-side so the exchange carries |labels|*|dims| " +
        "partials, never vectors."),
    Entry("q_range_join",
      "Interval join via bucket expansion: the interval side explodes " +
        "into fixed-width buckets, the join is hash-based on the bucket " +
        "(broadcast here), and the exact predicate post-filters — no " +
        "BroadcastNestedLoopJoin at any scale."),
    Entry("q_spatial_join",
      "A plain declarative join(broadcast(regions), st_intersects(...)) — " +
        "SpatialJoinStrategy plans BroadcastRTreeSpatialJoinExec (per-" +
        "partition STRtree over the broadcast side, envelope probe + " +
        "PreparedGeometry) where default planning would emit " +
        "BroadcastNestedLoopJoin, O(|L|*|R|) geometry tests."),
    Entry("q_spatial_dwithin",
      "Same operator, distance predicate: join(broadcast(regions), " +
        "st_dwithin(parcel, region, 10700)) plans the same exec with the " +
        "probe envelope expanded by d before the R-tree query and exact " +
        "JTS distance as the post-filter — a distance join with no " +
        "nested loop."),
    Entry("q_spatial_semi",
      "Spatial filtering as LEFT SEMI: the semi-mode R-tree exec streams " +
        "the probe side, emits each row at most once (exists short-" +
        "circuits the candidate scan), and outputs the probe schema only " +
        "— no build columns, no duplication ahead of the aggregate."),
    Entry("q_bloom_join",
      "Explicit runtime-filter semi-join reduction: the bloom over the " +
        "filtered dimension keys builds as a scalar subquery and the " +
        "might_contain filter sits BELOW the fact side's exchange — at " +
        "scale the fact shuffle carries only rows whose keys might match " +
        "the dimension predicate; no false negatives, so results equal " +
        "the plain join."),
    Entry("q_zorder",
      "Z-order clustered layout: the write range-partitions and sorts by " +
        "the Morton code of (user_id, ts), so the 2-D box scan's pushed " +
        "filters skip most row groups via parquet min/max stats — " +
        "multi-dimensional pruning a single-column sort cannot give " +
        "(PlanShapeSpec asserts >half the table is skipped)."),
    Entry("q_kmeans",
      "Distributed Lloyd's k-means: assignment is a per-row projection " +
        "against centroid literals (no join), the update is the " +
        "(cluster, dim) positional-explode aggregate with map-side " +
        "partials, and the driver reads back exactly k*dims means per " +
        "iteration."),
    Entry("q_pack_sequences",
      "Sequence packing: one exchange on source; the running token sum " +
        "is a streaming ROWS-frame window, the sequence id a pure " +
        "integer projection, and the final (source, seq_id) aggregate " +
        "reuses the window's partitioning."),
    Entry("q_lattice_scan",
      "DataSource V2 scan of the custom lattice source: the r-range " +
        "predicate appears in the scan's pushed=[...] and prunes 20 of " +
        "25 InputPartitions at planning; ReadSchema is the pruned " +
        "column set. The scan also reports KeyGroupedPartitioning on r " +
        "(one region per partition), so under v2 bucketing the keyed " +
        "aggregate needs no exchange (LatticeSourceSpec asserts it)."),
    Entry("q_lattice_agg",
      "DSv2 AGGREGATE pushdown: the scan line shows pushedAgg=[count," +
        "min_pos,max_pos groupBy=r] and read=[r,count_star,min_pos," +
        "max_pos] — the source answers COUNT/MIN/MAX per region from " +
        "generator closed forms, ONE summary row per partition, zero " +
        "data rows generated; the r-filter is consumed by partition " +
        "pruning so no residual Filter blocks the push."),
    Entry("q_lattice_runtime",
      "DSv2 RUNTIME partition pruning: the lattice scan carries " +
        "RuntimeFilters: [dynamicpruningexpression(r IN dynamicpruning#N)] " +
        "fed by the dim side's broadcast — the dim filters on a NON-key " +
        "column, so only the runtime IN can prune; 3 of 25 region " +
        "partitions ever open a reader (LatticeSourceSpec counts them)."),
    Entry("q_lattice_topn",
      "DSv2 TOP-N pushdown: the scan line shows pushedLimit=40 — each " +
        "region partition stops GENERATING after its first 40 admitted " +
        "sites (generation order is pos-ascending, r partition-constant, " +
        "so the local prefix is the local top-n); the push is partial, " +
        "TakeOrderedAndProject does the global merge over <=40*25 rows " +
        "instead of ~26.8k (LatticeSourceSpec counts emitted rows)."),
    Entry("q_ngram_explode",
      "Native Catalyst GENERATOR: Generate explode_ngrams streams one " +
        "gram at a time — no O(doc_len) array materializes per row " +
        "(every split/sequence/transform formulation builds one); the " +
        "(lang, gram) count aggregate takes map-side partials, and the " +
        "top-k window runs on the AGGREGATED charset-bounded relation, " +
        "never on the corpus."),
    Entry("q_tvf_grid",
      "Injected TABLE FUNCTION: graft_series(0, 24) plans directly as " +
        "the catalyst Range node (no data source, closed-form stats); " +
        "events aggregate to <=24 rows BEFORE the dense-axis left join, " +
        "so the zero-fill join is 24x24 — the grid never joins the " +
        "corpus."),
    Entry("q_lateral_topn",
      "LATERAL correlated subquery with ORDER BY + LIMIT: Catalyst " +
        "decorrelates the per-region top-2 into ONE broadcast join + " +
        "aggregate + WindowGroupLimit (Partial below the exchange, so " +
        "each map task forwards at most 2 rows per region) + row_number " +
        "— identical physical work to the hand-rolled window top-N; " +
        "nothing executes per outer row, no nested-loop join."),
    Entry("q_variant_extract",
      "VARIANT schema-on-read: parse_json and every variant_get path " +
        "extraction are projections inside the scan's codegen stage; " +
        "the binary VARIANT encoding is parsed once per row and " +
        "navigated by offset for all 7 lanes. Exactly one hash exchange " +
        "(the group keys); partial aggregation combines map-side."),
    Entry("q_sql_udf",
      "SQL-defined functions: the analyzer INLINES graft_cents/" +
        "graft_disc_band into the expression tree (plan shows the CASE/" +
        "floor bodies, no ScalaUDF eval boundary, codegen intact); the " +
        "band TABLE function is a 3-row LocalRelation joined AFTER the " +
        "aggregate collapses the fact side to 3 rows."),
    Entry("q_ann_ivfpq",
      "IVF-PQ funnel: coarse assignment and ADC scoring are pure per-row " +
        "projections against centroid/codebook literals (no join " +
        "anywhere); the probed-list filter prunes before ADC; both " +
        "cut-offs (top-20 ADC candidates, top-5 exact) execute as " +
        "TakeOrderedAndProject — no shuffle carries more than the " +
        "candidate set."),
    Entry("q_spatial_dwithin_col",
      "st_dwithin with a PER-ROW distance column: planned as the same " +
        "BroadcastRTreeSpatialJoin exec, the distance expression bound " +
        "to the probe side — each probe row expands its own envelope " +
        "query; NULL/negative radii match nothing row-locally. No BNLJ."),
    Entry("q_source_mix",
      "Bounded-state per-source top-k: partial_topk_agg runs map-side " +
        "(ObjectHashAggregate) so only |sources|*quota fixed-width pairs " +
        "shuffle — no per-source row_number window, no single-reducer " +
        "sort of a whole source; the picked ids broadcast back against " +
        "the corpus (inner join output = the picks, never the corpus)."),
    Entry("q_areal_interp",
      "Areal interpolation: the zone-pair stage is the broadcast R-tree " +
        "st_intersects join (25-row source side broadcast), overlay " +
        "weights are per-pair scalar work, and the only exchange under " +
        "the weighted sum carries |targets| grouping keys."),
    Entry("q_ohlc",
      "OHLC bars with NO window function: open/close select via " +
        "min_by/max_by over the (tms,event_id) struct order, so the " +
        "whole query is one partial+final aggregate pair — each map " +
        "task carries 2 candidate rows per day instead of sorting " +
        "every group the way the row_number formulation (the oracle) " +
        "would."),
    Entry("q_tpch_q18",
      "Q18 as aggregate-then-join: the per-order quantity rollup takes " +
        "partial+final HashAggregate (never a re-scan for the outer " +
        "re-aggregation), the HAVING tail is the thin build side AQE " +
        "broadcasts at runtime, and the top-100 is " +
        "TakeOrderedAndProject — no global sort, no second lineitem " +
        "pass."),
    Entry("q_poisson_bootstrap",
      "Poisson bootstrap as ONE streaming pass: the 32-replicate " +
        "explode is a per-row Generate (no shuffle, no join against a " +
        "replicate relation), weights are scalar md5 work inside the " +
        "scan stage, and the single partial+final HashAggregate " +
        "shuffles only |groups|*B fixed-width rows — the classic " +
        "bootstrap's B global resamples never exist."),
    Entry("q_minhash_audit",
      "Bounded-by-construction since r13: the per-block doc cap runs " +
        "FIRST as a bounded-state topk_agg on the md5 order (map-side " +
        "partials, <=2*cap pairs of state per block, no window sort), " +
        "the expensive signature kernel runs only on the <=|blocks|*cap " +
        "survivors of a broadcast pick-back join, and pairs generate " +
        "in-array from the per-block survivor list (the dedupMinhash " +
        "bucket device) — no self-join, so the kernel is never " +
        "evaluated twice per doc and total pair work is |blocks|*cap^2, " +
        "a constant once the corpus saturates the blocks."),
    Entry("q_spatial_dwithin_partitioned",
      "Stats-routed grid decomposition of st_dwithin when NEITHER side " +
        "clears the broadcast threshold: the distance-carrying side " +
        "explodes to cells covering its envelope expanded by d, the " +
        "other side to its own cells, ONE hash equi join on the packed " +
        "BIGINT cell key, envelope prune, exact JTS distance, " +
        "reference-point dedup — never BroadcastNestedLoopJoin. The " +
        "shuffles are the cell-key exchange and nothing else; cell " +
        "pitch is the graft.spatial.grid.cellSize knob."),
    Entry("q_stream_outer_join",
      "Stream-stream LEFT OUTER interval join run by the real streaming " +
        "engine: both sides watermarked 2h, click side's unmatched rows " +
        "held in join state until the min-of-both-sides watermark passes " +
        "their interval horizon, then null-extended in the trailing " +
        "no-data batch. State is bounded by the watermark (the " +
        "long-horizon StreamOpsSpec asserts per-batch state rows stay " +
        "constant across 14 eviction-crossing batches). The documented " +
        "plan below is the bounded read-back rollup over the sink; the " +
        "streaming micro-batch plan itself carries the two " +
        "StateStoreSave sides keyed on user."),
    Entry("q_table_checksum",
      "Anti-entropy checksums: each replica is one scan into a " +
        "partial+final HashAggregate (the modular digest sum is " +
        "commutative, so map-side partials apply), the compare is a " +
        "|buckets|-row full-outer hash join, and the output is only " +
        "the mismatched buckets — O(buckets+diff) movement, O(rows) " +
        "never leaves the scan stage."),
    Entry("q_parquet_bloom",
      "Point lookup on the bloom-filtered table: the IN-list lands in " +
        "PushedFilters (In(l_orderkey, ...)) so row-group pruning sees " +
        "it — min/max can't prune an unsorted id column, the per-group " +
        "bloom (asserted present in the footers by ParquetBloomSpec) " +
        "is what rejects non-matching groups; above the scan it's one " +
        "partial+final aggregate."),
    Entry("q_feature_cov",
      "Pairwise covariance without a self-join: the per-row generator " +
        "expands each vector to its 36 (i<=j) index pairs in the scan " +
        "stage, and the ONLY exchange carries the (label,i,j) keys of a " +
        "partial+final HashAggregate in whole-stage codegen. The " +
        "n^2-scaled identity keeps every lane DECIMAL(38,0)-exact; no " +
        "mean, no second pass, nothing on the driver."),
  )


  def main(args: Array[String]): Unit = {
    // same injection path as Verify/Bench — the graft_series TVF is only
    // reachable through the extensions mechanism; width 8 is the width
    // PLANS.md is generated at
    val spark = Session.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# PLANS — executed physical plans of the headline queries\n\n")
    sb.append("Generated by `sbt \"runMain graft.Plans\"` against sf0.001 ")
    sb.append("(plans are scale-invariant; AQE-final plans shown after execution).\n")
    entries.foreach { e =>
      val df = SparkEntry.queries(e.name)(spark, dir)
      df.collect()
      sb.append(s"\n## ${e.name}\n\n${e.note}\n\n```\n")
      // truncate on line boundaries: a mid-line cut leaves a dangling
      // operator in the documented plan
      val full = df.queryExecution.executedPlan.toString.trim
      val cut =
        if (full.length <= 6000) full
        else full.lastIndexOf('\n', 6000) match {
          case -1 => full.take(6000)
          case nl => full.take(nl) + "\n... (truncated)"
        }
      sb.append(cut)
      sb.append("\n```\n")
    }
    // hand-written analysis (bench forensics etc.) lives in
    // PLANS_NOTES.md — prose stays in a prose file, and regeneration
    // appends it instead of reverting edits made there
    val notes = Paths.get("PLANS_NOTES.md")
    if (Files.exists(notes)) {
      sb.append("\n")
      sb.append(Files.readString(notes))
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"PLANS.md written (${entries.size} plans)")
    spark.stop()
  }
}
