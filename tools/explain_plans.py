"""Dump physical plans for the headline queries to PLANS.md and run the
scale-soundness audit on each:

- filters/pruning reach the parquet scan (PushedFilters / ReadSchema)
- dimension joins broadcast (BroadcastHashJoin, no unexpected SMJ/NLJ)
- native column math stays inside WholeStageCodegen spans
- no CartesianProduct except where the operator is by-design a
  broadcast cross join (brute-force ANN scoring)

Usage: python tools/explain_plans.py [query ...]
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout

sys.path.insert(0, "/root/repo")

SF_DIR = "/root/testdata/sf0.01"

AUDITS = {
    "q1_pricing_summary": ["PushedFilters: [IsNotNull(l_shipdate)", "codegen id"],
    "q3_shipping_priority": ["BroadcastHashJoin", "TakeOrderedAndProject"],
    "q5_region_revenue": ["BroadcastHashJoin"],
    "semi_join_customers": ["LeftSemi"],
    "anti_join_customers": ["LeftAnti"],
    "top_orders_per_customer": ["WindowGroupLimit"],
    "tile_assign_events": ["codegen id", "HashAggregate"],
    "knn_sites": ["BroadcastHashJoin"],
    # band join: equi-join on the signature-slice key; AQE picks
    # broadcast at test SF (sort-merge at scale) — assert it's a hash
    # equi-join either way, never a cartesian product
    "minhash_lsh": ["HashJoin"],
    # arrow scoring path: per-batch local top-k + WindowGroupLimit —
    # no join at all (the query matrix rides inside the UDF closure)
    "ann_topk": ["MapInPandas", "WindowGroupLimit"],
    "ann_topk_ivf": ["BroadcastHashJoin", "Aggregate"],
    "range_join_px": ["BroadcastNestedLoopJoin"],
    # tag-5 passthrough: the decode is the Arrow map (the MapInPandas
    # is the tile generator); md5/length stay codegen-side above it
    "raster_passthrough": ["MapInArrow", "MapInPandas", "codegen id"],
    # span generation must be pure codegen (no Python) with map-side
    # partial aggregation below the one span-key exchange
    "repeated_spans": ["Generate", "HashAggregate", "codegen id"],
    # the duplicated-span set is the broadcast side; fact spans join it
    # without a shuffle of their own
    "span_dedup_profile": ["BroadcastHashJoin", "LeftSemi"],
    # dirty set is the broadcast side of the semi-join that restricts
    # the fact rows before any aggregation
    "incremental_tile_rebuild": ["BroadcastHashJoin", "LeftSemi"],
    # tree walk over checkpointed counts: broadcast semi-joins only
    # (the single rollup exchange lives in the checkpoint job)
    "adaptive_cover_events": ["BroadcastHashJoin", "ExistingRDD"],
    # snap: cell equi-join on the broadcast segment-cover dim + packed
    # argmin with map-side partials — never a cross join
    "snap_nearest_segment": ["BroadcastHashJoin", "HashAggregate"],
    # conjunctive query answered from postings: one explode for the
    # build, aggregations with partials; never a document re-scan at
    # query time (tests pin the materialized-postings plan separately)
    "doc_search_and": ["Generate", "HashAggregate"],
    "asof_join_clicks": ["Window", "Sort"],
    "geojson_points": ["codegen id"],
    "frame_sample": ["MapInPandas"],
    "text_stats": ["codegen id"],
    # round-2 additions
    # flagship: decoded-count and image-count joins over the tile key +
    # the salted two-stage aggregation; generation/codec ride Python maps
    "flagship_mvt_pipeline": ["HashAggregate", "MapInArrow"],
    # typed-union round trip: encode and decode are each one Arrow map
    # (props_t rides the same batch codec as the JSON props)
    "mvt_typed_props_roundtrip": ["MapInArrow"],
    # encode is Arrow-native end-to-end; the index scan itself is a
    # partial parse inside MapInPandas
    "layers_index_scan": ["MapInArrow", "MapInPandas"],
    # the hot lenient decode must be the Arrow map, not pandas
    "mvt_roundtrip": ["MapInArrow"],
    "simhash_pairs": ["HashJoin"],
    "audio_window_features": ["MapInPandas"],
    # repetition signals must stay whole-stage codegen (no shuffle,
    # no Python)
    "repetition_quality": ["codegen id"],
    # deterministic sampling is a codegen'd filter over the scan
    "stratified_sample_split": ["codegen id", "Filter"],
    # component labels: distributed neighbor-min joins + final size agg
    "dedup_groups": ["HashAggregate"],
    # image pairing: banded equi-join (never cartesian) fed by the
    # pHash recompute map
    "image_phash_pairs": ["HashJoin", "MapInPandas"],
    # bbox read over the z-ordered layout: predicate must reach the
    # parquet source (the layout makes those stats selective at scale)
    "zorder_bbox_scan": ["PushedFilters: [IsNotNull(x)", "HashAggregate"],
    # geohash is one codegen'd column expression feeding a hash agg
    "geohash_cells": ["codegen id", "HashAggregate"],
    # broadcast the 25-site dim; argmin must be a partial AGGREGATE
    # before the Exchange (min(struct) plans as SortAggregate — struct
    # buffers aren't hash-aggregable — but the partial still collapses
    # the 25x blowup map-side), never a Window over the joined rows
    "haversine_nearest_site": ["BroadcastNestedLoopJoin", "SortAggregate"],
    # PBSM overlap join: hash equi-join on cover cells, no cartesian
    "bbox_overlap_pairs": ["HashJoin", "Generate"],
    # lag window + groupBy reuse ONE hash partitioning on user_id
    # (tests/test_trajectory.py asserts exactly one Exchange)
    "user_track_stats": ["Window", "HashAggregate"],
    # dense-cell adjacency is a hash equi-join on shifted coords (never
    # an abs()-inequality self-join / cartesian); the CC loop's labels
    # enter as a checkpointed RDD scan (lineage truncated per round),
    # so the adjacency Generate sits behind the checkpoint, not here
    "grid_density_clusters": ["HashJoin", "HashAggregate", "Scan ExistingRDD"],
    # PQ: broadcast codebook product + ONE partial-agg shuffle for all
    # 8 codes (min_by structs sort-aggregate), broadcast ADC tables
    "pq_ann_topk": ["BroadcastNestedLoopJoin", "SortAggregate"],
    # quadkey is pure bit-math codegen over the native tile assignment
    "quadkey_cells": ["codegen id", "HashAggregate"],
    # broadcast fence dim; the sign-fold PIP filter runs pre-shuffle
    "convex_geofence_pip": ["BroadcastNestedLoopJoin", "HashAggregate"],
    # explode + two key aggs + broadcast scalar N + doc window
    "tfidf_top_terms": ["Generate", "HashAggregate", "Window"],
    # native gap-merge session windows (batch mode)
    "session_window_agg": ["MergingSessions", "Sort"],
    # pivot with pinned values = one two-phase agg, no distinct job
    "event_type_pivot": ["HashAggregate"],
    # top-k must plan as TakeOrderedAndProject, never a global Sort
    "top_tokens_global": ["TakeOrderedAndProject", "HashAggregate"],
    # exact-integer sufficient statistics: one partial-agg shuffle
    "value_moments": ["HashAggregate", "codegen id"],
    "value_histogram": ["HashAggregate", "codegen id"],
    # typed from_json must stay inside codegen (no python UDF)
    "props_json_extract": ["from_json", "HashAggregate"],
    # exact percentile is a typed-buffer aggregate (Object/Sort agg)
    "value_percentiles": ["Aggregate", "percentile"],
    # both rank windows sit over one sorted partitioning on o_custkey
    "user_rank_functions": ["Window", "Sort"],
    # per-row hash salt joins on (k, _salt): a shuffled hash join, the
    # hot key spread over n_salt reducers (AQE dynamic twin in
    # tests/test_skew_join.py asserts skew=true)
    "salted_skew_join": ["ShuffledHashJoin", "HashAggregate"],
    # byte decode over Arrow batches, no shuffle at all
    "image_channel_goldens": ["MapInPandas"],
    # polyfill: bounded double sequence-explode + sign-fold filter,
    # all pre-shuffle codegen
    "hex_polyfill_fences": ["Generate", "codegen id"],
    # cover join: broadcast polyfill cells, facts join on bare cell —
    # zero shuffle of the fact table before the partial agg
    "polyfill_cover_counts": ["BroadcastHashJoin", "HashAggregate"],
    # augmentation path is byte decode over Arrow batches, no shuffle
    "image_fliprot_invariants": ["MapInPandas"],
    # MERGE compaction: max_by partials, never a Window sort
    "cdc_upsert_snapshot": ["partial_max_by", "Aggregate"],
    # two-star CC fixed point: labels enter as a checkpointed RDD scan
    # (lineage truncated per round); sizes are ONE hash agg + a final
    # equi-join — never a per-round plan that grows with iterations
    "dedup_groups_chain": ["Scan ExistingRDD", "HashAggregate", "HashJoin"],
    # per-level top-K must push below the shuffle (WindowGroupLimit),
    # never a global sort; final rollup is one hash agg
    "pyramid_thinned_counts": ["WindowGroupLimit", "HashAggregate"],
    # IVFADC: the corpus reaches the scorer through a hash equi-join on
    # ivf_bucket (broadcast probe tabs) — never a cross join of codes
    "ivf_pq_ann_topk": ["BroadcastHashJoin", "SortAggregate"],
    # zonal stats: raster reduce (hash agg) -> broadcast zone filter ->
    # one per-zone agg; never a shuffle of the raw points to the zones
    "zonal_fence_stats": ["BroadcastNestedLoopJoin", "HashAggregate"],
    # decontamination: benchmark shingles broadcast, training shingles
    # probe via hash join, per-doc rollup — one shuffle on doc_id
    "decontamination_overlap": ["BroadcastHashJoin", "Generate", "HashAggregate"],
    # CMS: sketch is one partial-agg shuffle to 16k cells; estimates
    # probe it via a broadcast equi-join; exact top-20 is TOAP
    "cms_heavy_hitters": ["TakeOrderedAndProject", "BroadcastHashJoin", "HashAggregate"],
    # SCD2 history: ONE lead window on the key
    "scd2_user_history": ["Window", "Sort"],
    # round-5 additions
    # convex boolean / minkowski: closed-form corpus built codegen-side,
    # geometry rides ONE pandas map (no join, no shuffle)
    "poly_union_area": ["MapInPandas", "codegen id"],
    "minkowski_sum_area": ["MapInPandas", "codegen id"],
    # rectilinear coverage: one groupBy shuffle into the grouped-map
    "rect_union_coverage": ["FlatMapGroupsInPandas"],
    "offset_rectilinear_square": ["MapInPandas", "codegen id"],
    # top-k snap: broadcast cell-cover join + rank-limit pushdown
    # (partial top-k per partition before the point-keyed exchange)
    "snap_topk_segments": ["BroadcastHashJoin", "WindowGroupLimit"],
    # lossy golden corpora: synthesis + codec ride pandas maps
    "lossy_420_psnr": ["MapInPandas"],
    "jpeg_roundtrip_psnr": ["MapInPandas"],
}


PLANS_PATH = "/root/repo/PLANS.md"

HEADER = (
    "# PLANS — physical-plan audit of headline queries\n\n"
    "Generated by `python tools/explain_plans.py` at sf0.01, "
    "local[8], AQE on. Each section lists the scale assertions "
    "checked for that plan, then the `explain(\"formatted\")` "
    "output. Plans whose assertion needs runtime evidence (e.g. "
    "WholeStageCodegen spans, which AQE only annotates in the "
    "final plan) are executed once so the same QueryExecution "
    "finalizes (isFinalPlan=true) before capture. Partial runs "
    "(`python tools/explain_plans.py q1 q2`) merge into the "
    "existing file by section title — they never drop other "
    "sections.\n"
)


def read_existing_sections() -> dict:
    """Parse PLANS.md into {section_title: body} so a partial run can
    merge instead of clobbering (the round-2 regression: each
    single-query regeneration overwrote the whole 46-section audit)."""
    try:
        with open(PLANS_PATH) as f:
            text = f.read()
    except FileNotFoundError:
        return {}
    sections = {}
    name = None
    buf = []
    for line in text.splitlines():
        if line.startswith("## "):
            if name is not None:
                sections[name] = "\n".join(buf).strip()
            name = line[3:].strip()
            buf = []
        elif name is not None:
            buf.append(line)
    if name is not None:
        sections[name] = "\n".join(buf).strip()
    return sections


def main() -> None:
    only = set(sys.argv[1:])
    import __spark_entry__ as entry
    from mvtspark.session import get_spark

    spark = get_spark("plans", cores=8)
    qs = entry.queries()
    sections = []
    problems = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if not only and name not in AUDITS:
            continue
        df = fn(spark, SF_DIR)

        def capture():
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            return buf.getvalue()

        plan = capture()
        executed = False
        checks = []
        for needle in AUDITS.get(name, []):
            ok = needle in plan
            if not ok and not executed:
                # AQE's initial plan omits WholeStageCodegen annotations
                # (and may show a pre-reoptimization join); execute once so
                # the SAME QueryExecution finalizes, then re-read the plan —
                # isFinalPlan=true sections carry the codegen spans.
                df.collect()
                plan = capture()
                executed = True
                ok = needle in plan
            checks.append(f"{'PASS' if ok else 'MISS'} expects `{needle}`")
            if not ok:
                problems.append(f"{name}: missing {needle}")
        sections.append((name, checks, plan))
        print(f"{name}: " + "; ".join(checks))

    merged = read_existing_sections()
    for name, checks, plan in sections:
        body = "\n".join(f"- {c}" for c in checks)
        merged[name] = body + "\n\n```\n" + plan.strip() + "\n```"

    # Stable order: AUDITS declaration order first, then any extras
    # (explicitly-requested non-AUDITS queries) alphabetically.
    order = {n: i for i, n in enumerate(AUDITS)}
    titles = sorted(merged, key=lambda n: (order.get(n, len(order)), n))
    with open(PLANS_PATH, "w") as f:
        f.write(HEADER)
        for name in titles:
            f.write(f"\n## {name}\n\n{merged[name]}\n")
    print(
        f"\nwrote PLANS.md ({len(titles)} sections);",
        ("PROBLEMS: " + "; ".join(problems)) if problems else "all audits pass",
    )


if __name__ == "__main__":
    main()
