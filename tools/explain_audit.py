"""Plan-quality audit: assert the physical plans we ship are the plans we
want at 100 TB (SURVEY.md §4).

For each audited query this checks, from `.explain("formatted")` output:

- **column pruning**: the parquet scan's ReadSchema contains only the
  columns the query needs (a scan reading `tokens` for a stats query is a
  bug at 100 TB);
- **predicate pushdown**: filters on scan columns appear in PushedFilters;
- **whole-stage codegen**: the hot operators sit inside WholeStageCodegen
  spans (CodegenFallback expressions silently de-vectorize everything);
- **broadcast**: the referential dictionary join is a BroadcastHashJoin,
  not a sort-merge shuffle.

Usage: python tools/explain_audit.py [sf_dir]
Exits non-zero on any failed expectation; prints one line per check.
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout

sys.path.insert(0, "/root/repo")

FAILURES: list[str] = []


def explain_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def check(name: str, cond: bool, detail: str = "") -> None:
    status = "ok  " if cond else "FAIL"
    print(f"{status}  {name}" + (f" — {detail}" if detail and not cond else ""))
    if not cond:
        FAILURES.append(name)


def main() -> None:
    from bench import _flagship_spec, _get_spark
    from json_schema_modern_spark.operators.referential import missing_references
    from json_schema_modern_spark.operators.stats import column_stats
    from json_schema_modern_spark.operators.uniqueness import duplicate_keys
    from json_schema_modern_spark.sources.sequences import sequences_df, source_dict_df
    from json_schema_modern_spark.validator import Validator
    from pyspark.sql import functions as F

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = _get_spark(8)

    # materialize a token table so scans are real parquet scans
    import os
    tok_path = "/tmp/spark_graft_bench/tokens_200000"
    if not os.path.exists(os.path.join(tok_path, "_SUCCESS")):
        sequences_df(spark, 200000, seed=42, corrupt=True) \
            .write.mode("overwrite").parquet(tok_path)
    df = spark.read.parquet(tok_path)

    def filter_codegen(plan: str) -> bool:
        """formatted explain marks codegen'd operators with [codegen id : N]
        on the node line — the Filter node must carry it."""
        nodes = [ln for ln in plan.splitlines()
                 if ln.strip().startswith("(") and "Filter" in ln]
        return bool(nodes) and any("codegen id" in ln for ln in nodes)

    # 1. row-local validation: the hot filter must stay codegen'd (one
    #    CodegenFallback expression in it de-vectorizes the whole operator).
    #    Audited in the shipped token-table configuration: dense-array
    #    contract flag on (same as bench.py / cli --contract-schema).
    from json_schema_modern_spark.compiler.column_compiler import CompileOptions

    v = Validator(_flagship_spec(), CompileOptions(assume_dense_arrays=True))
    res = v.validate(df, id_cols=["doc_id"])
    flag_plan = explain_str(res.annotated.filter("NOT _valid").select(F.lit(1)))
    check("rowpass: hot filter inside whole-stage codegen", filter_codegen(flag_plan))

    # 2. violations path: the interpreted detail projection (Generate over
    #    higher-order exprs) must be isolated from the scan+filter stage by
    #    an Exchange — otherwise Catalyst fuses them and the filter loses
    #    codegen.  (Under AQE the formatted plan hides codegen ids, so this
    #    is a structural assertion: scan Filter → Exchange → … → Generate;
    #    the scan Filter is the lowest one, a NULL filter on the generated
    #    rows sits above the Generate.)  The scan Filter must not hold the
    #    detail expression either (a size() of the violation array that
    #    Catalyst infers from an explode and pushes through the Exchange).
    viol_plan = explain_str(res.violations)
    tree = [ln.strip() for ln in viol_plan.splitlines()[:12]]
    order = [next((k for k in ("Generate", "Exchange", "Filter") if k in ln), None)
             for ln in tree]
    order = [k for k in order if k]
    scan_filter = len(order) - 1 - order[::-1].index("Filter") if "Filter" in order else -1
    check("violations: Exchange isolates detail from scan stage",
          scan_filter > order.index("Exchange") > order.index("Generate")
          if all(k in order for k in ("Filter", "Exchange", "Generate")) else False,
          f"plan order (top-down): {order}")
    details = viol_plan.split("\n\n")
    scan_filter_text = next((d for d in reversed(details) if "Filter\nInput" in d), "")
    check("violations: scan Filter does not evaluate the violation array",
          bool(scan_filter_text) and "array(struct(" not in scan_filter_text)

    # 3. stats: must prune tokens out of the scan
    stats_plan = explain_str(column_stats(df, ["doc_id", "n_tok", "source"]))
    rs = [ln for ln in stats_plan.splitlines() if "ReadSchema" in ln]
    check("stats: tokens column pruned from scan",
          bool(rs) and all("tokens" not in ln for ln in rs),
          rs[0] if rs else "no ReadSchema line")

    # 3b. stats: distinct counts come from the DataSketches HLL aggregate,
    #     not approx_count_distinct's far costlier HyperLogLog++ update
    check("stats: no HyperLogLogPlusPlus (hll_sketch_agg instead)",
          "HyperLogLogPlusPlus" not in stats_plan)

    # 3c. drift: every KS/PSI test reads ONE (grp, bin) counting aggregate —
    #     a single scan of the input; the fold over its rows runs on the
    #     driver, so ks_drift's own result holds no scan
    from json_schema_modern_spark.operators.drift import drift_counts

    counts_plan = explain_str(drift_counts(df, "n_tok", "source", 0.0, 2048.0, 256))
    n_scans = sum(1 for ln in counts_plan.splitlines()
                  if ln.strip().startswith("(") and "Scan parquet" in ln)
    check("drift: the (grp, bin) counting aggregate holds exactly one FileScan",
          n_scans == 1, f"{n_scans} scans")

    # 3d. checkpointed pipeline: one wave's write reads the token table
    #     once per bucket-local pass — the row pass (with the x-ref lookup)
    #     and uniqueness — and no more (drift and stats run in the input
    #     aggregate)
    from json_schema_modern_spark.plans.pipeline import ValidationPipeline, _bucket_expr

    pipe = ValidationPipeline(_flagship_spec(), n_buckets=256,
                              options=CompileOptions(assume_dense_arrays=True))
    bucketed = df.withColumn("_bucket", _bucket_expr(F.col("doc_id"), 256))
    run_plan = pipe.validator.compile_for(df)
    wave_plan = explain_str(pipe._wave_violations(
        bucketed, list(range(256)), run_plan, source_dict_df(spark)))
    n_scans = sum(1 for ln in wave_plan.splitlines()
                  if ln.strip().startswith("(") and "Scan parquet" in ln)
    check("pipeline: wave write scans the token table exactly 2 times", n_scans == 2,
          f"{n_scans} scans")

    # 3e. the broadcast x-ref check is a lookup inside the row pass: an
    #     existence join against the broadcast dictionary, not a join of
    #     its own over a second scan
    check("pipeline: in-row x-ref lookup plans as a BroadcastHashJoin",
          "BroadcastHashJoin" in wave_plan and "ExistenceJoin" in wave_plan
          and "SortMergeJoin" not in wave_plan and "NestedLoopJoin" not in wave_plan)

    # 3f. the run's one input aggregate (doc counts, histogram, drift bins,
    #     stats as an Observation on the same scan): one scan, tokens
    #     pruned, sketch stats rather than HyperLogLog++
    agg_plan = explain_str(pipe._input_aggregate(
        bucketed, pipe._drifts(run_plan.set_checks), ["doc_id", "n_tok", "source"])[0])
    n_scans = sum(1 for ln in agg_plan.splitlines()
                  if ln.strip().startswith("(") and "Scan parquet" in ln)
    rs = [ln for ln in agg_plan.splitlines() if "ReadSchema" in ln]
    check("pipeline: input aggregate holds exactly one FileScan", n_scans == 1,
          f"{n_scans} scans")
    check("pipeline: input aggregate prunes tokens from its scan",
          bool(rs) and all("tokens" not in ln for ln in rs), rs[0] if rs else "no ReadSchema")
    check("pipeline: input aggregate has no HyperLogLogPlusPlus",
          "HyperLogLogPlusPlus" not in agg_plan)

    # 3g. JSON hybrid tier: each document is evaluated by one tier, so the
    #     violations read the stored JSON column once per tier — the
    #     fast-path rows' typed plan and the python tier — and no more
    from __spark_entry__ import _JSON_TIER_SPEC, _json_payload_table

    hybrid_plan = explain_str(Validator(_JSON_TIER_SPEC).validate_json_strings(
        _json_payload_table(spark, sf_dir), "payload", id_cols=["event_id"],
        tier="hybrid").violations)
    n_scans = sum(1 for ln in hybrid_plan.splitlines()
                  if ln.strip().startswith("(") and "Scan parquet" in ln)
    check("json hybrid: violations plan holds exactly 2 FileScans", n_scans == 2,
          f"{n_scans} scans")

    # 4. uniqueness: only doc_id read; partial aggregation before shuffle
    uniq_plan = explain_str(duplicate_keys(df, ["doc_id"]))
    rs = [ln for ln in uniq_plan.splitlines() if "ReadSchema" in ln]
    check("uniqueness: only doc_id scanned",
          bool(rs) and all("tokens" not in ln and "n_tok" not in ln for ln in rs),
          rs[0] if rs else "")
    check("uniqueness: partial agg before shuffle",
          "HashAggregate" in uniq_plan and "Exchange" in uniq_plan)

    # 5. referential: broadcast join, not sort-merge; the violations
    #    projection must prune tokens out of the fact scan
    from json_schema_modern_spark.operators.referential import referential_violations

    sd = source_dict_df(spark)
    ref_plan = explain_str(missing_references(df, "source", sd, "source"))
    check("referential: BroadcastHashJoin chosen", "BroadcastHashJoin" in ref_plan)
    refv_plan = explain_str(referential_violations(df, "source", sd, "source"))
    check("referential: violations scan prunes tokens",
          all("tokens" not in ln for ln in refv_plan.splitlines() if "ReadSchema" in ln))

    # 6. predicate pushdown on a filtered read
    pushed = explain_str(df.filter(F.col("source") == "web").select("doc_id"))
    check("filter pushdown: source=web reaches PushedFilters",
          "PushedFilters" in pushed and "source" in
          "".join(ln for ln in pushed.splitlines() if "PushedFilters" in ln))

    # 7. dedup joins must be EQUI-joins (bucketed), never a cross product —
    #    the whole point of LSH banding / prefix filtering / SimHash
    #    blocking is that no plan node multiplies the corpus by itself
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from json_schema_modern_spark.operators.dedup import (
        minhash_lsh_candidates, ngram_jaccard_pairs, simhash_near_duplicates,
    )

    def no_cross(plan: str) -> bool:
        return ("CartesianProduct" not in plan
                and "BroadcastNestedLoopJoin" not in plan)

    lsh_plan = explain_str(minhash_lsh_candidates(docs, num_hashes=32, bands=8))
    check("dedup LSH: band join is equi (no cross product)", no_cross(lsh_plan))
    # like SimHash below: the signature UDF must not be recomputed per
    # branch — either one Arrow node or a persisted groups relation
    lsh_arrow = sum(1 for ln in lsh_plan.splitlines()
                    if "ArrowEvalPython" in ln and "(" not in ln.split("Arrow")[0])
    lsh_inmem = sum(1 for ln in lsh_plan.splitlines()
                    if "InMemoryTableScan" in ln and "(" not in ln.split("InMemory")[0])
    check("dedup LSH: single signature UDF pass", lsh_arrow == 1 or lsh_inmem >= 1,
          f"tree ArrowEvalPython nodes: {lsh_arrow}, InMemoryTableScan: {lsh_inmem}")
    pp_plan = explain_str(ngram_jaccard_pairs(docs, threshold=0.9))
    check("dedup PPJoin: prefix join is equi (no cross product)", no_cross(pp_plan))
    sh_plan = explain_str(simhash_near_duplicates(docs, max_hamming=3))
    check("dedup SimHash: block join is equi (no cross product)", no_cross(sh_plan))
    # the Arrow fingerprint UDF must appear in exactly ONE plan node:
    # buckets materialize via groupBy+collect_list, so no plan branch
    # recomputes the fingerprint pass (a self-join would show two).
    # formatted explain prints each node once in the tree ("+- Arrow...")
    # and once in the detail section ("(n) Arrow...") — count tree lines.
    n_arrow = sum(1 for ln in sh_plan.splitlines()
                  if "ArrowEvalPython" in ln and "(" not in ln.split("Arrow")[0])
    n_inmem = sum(1 for ln in sh_plan.splitlines()
                  if "InMemoryTableScan" in ln and "(" not in ln.split("InMemory")[0])
    # either a single Arrow node (one linear pass) or the distinct-
    # fingerprint groups table is persisted and every branch reads the
    # cached relation (formatted explain re-prints the cached child plan
    # under each InMemoryTableScan, so count scans, not Arrow lines —
    # runtime materializes the relation once)
    check("dedup SimHash: single fingerprint UDF pass", n_arrow == 1 or n_inmem >= 1,
          f"tree ArrowEvalPython nodes: {n_arrow}, InMemoryTableScan: {n_inmem}")
    # cross-view pair dedup is the canonical-view row-local filter, NOT a
    # distinct: no aggregate may group on the candidate-pair columns
    # (fa, fb) — that shape would mean a full exchange over every
    # candidate pair re-appeared.
    pair_agg = any(
        "HashAggregate" in ln and "fa#" in ln and "fb#" in ln
        for ln in sh_plan.splitlines())
    check("dedup SimHash: no distinct over candidate pairs", not pair_agg)

    # 8. ANN: brute-force top-k must be per-partition top-k + merge
    #    (TakeOrderedAndProject), never a global Sort of the corpus; the
    #    LSH near-dup join must be bucket-equi
    from json_schema_modern_spark.operators.similarity import (
        cosine_topk, embedding_near_duplicates, query_vector,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    topk_plan = explain_str(cosine_topk(emb, query_vector(64, seed=42), k=10))
    check("ANN top-k: TakeOrderedAndProject (no global sort)",
          "TakeOrderedAndProject" in topk_plan)
    nd_plan = explain_str(embedding_near_duplicates(emb, threshold=0.4,
                                                    exact=False, n_planes=6))
    check("ANN near-dup: LSH bucket join is equi (no cross product)",
          no_cross(nd_plan))

    # 9. contamination: benchmark gram set must broadcast so the (huge)
    #    training side never shuffles for the join
    from json_schema_modern_spark.operators.contamination import (
        ngram_contamination,
    )

    bench = docs.filter(F.col("doc_id") % 19 == 0)
    train = docs.filter(F.col("doc_id") % 19 != 0)
    ct_plan = explain_str(ngram_contamination(train, bench, n=3))
    check("contamination: benchmark grams broadcast-joined",
          "BroadcastHashJoin" in ct_plan)
    check("contamination: training side not cross-joined", no_cross(ct_plan))

    # 10. token stats: frequencies must partial-aggregate before the
    #     shuffle (shuffle volume O(|vocab|×partitions), not O(tokens))
    #     and take top-k without a global sort; the OOV pass must never
    #     explode (no Generate node — per-row counting stays codegen'd)
    from json_schema_modern_spark.operators.tokens import (
        oov_stats, token_frequencies,
    )

    tf_plan = explain_str(token_frequencies(df, top_k=20))
    check("token freq: partial agg before shuffle",
          "HashAggregate" in tf_plan and "Exchange" in tf_plan)
    check("token freq: top-k via TakeOrderedAndProject",
          "TakeOrderedAndProject" in tf_plan)
    oov_plan = explain_str(oov_stats(df, vocab_size=50257))
    check("token OOV: explode-free (no Generate node)",
          "Generate" not in oov_plan)

    # 11. sessionization: lag + running session index + rollup must share
    #     ONE user-key exchange (window spec reuse); no second shuffle
    from json_schema_modern_spark.operators.sessions import session_stats

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sess_plan = explain_str(session_stats(ev))
    n_exchanges = sum(
        1 for ln in sess_plan.splitlines()
        if ln.strip().startswith("Arguments: hashpartitioning"))
    # (the only other Exchange is the presentation orderBy's
    # rangepartitioning — not a data-plane shuffle)
    check("sessionize: one user-key exchange feeds lag+sum+rollup",
          n_exchanges == 1, f"hash exchanges: {n_exchanges}")

    # 12. packing: exactly one hash exchange (the group key) feeds the
    #     per-group pandas pass — next-fit must not re-shuffle or sort
    #     globally
    from json_schema_modern_spark.operators.packing import pack_next_fit

    toks = docs.withColumn("n_tok", (F.col("n_chars") % 97 + 3).cast("long"))
    pk_plan = explain_str(pack_next_fit(toks, capacity=256))
    n_pk_ex = sum(1 for ln in pk_plan.splitlines()
                  if ln.strip().startswith("Arguments: hashpartitioning"))
    check("packing: single group-key exchange", n_pk_ex == 1,
          f"hash exchanges: {n_pk_ex}")
    check("packing: per-group pandas pass present",
          "FlatMapGroupsInPandas" in pk_plan)

    # 13. mixture sampling: the |sources|-row threshold table must
    #     broadcast so the sampled scan has no data-sized shuffle
    from json_schema_modern_spark.operators.mixing import (
        mixture_thresholds, stratified_sample,
    )

    th = mixture_thresholds(toks)
    samp_plan = explain_str(stratified_sample(toks, th))
    check("mixture sample: thresholds broadcast-joined",
          "BroadcastHashJoin" in samp_plan)
    # the only nested-loop join allowed is the scalar-min broadcast
    # (global agg ⇒ provably 1 row on the build side); count NODES in
    # the detail section — formatted explain prints each node twice
    # (tree + "(N) BroadcastNestedLoopJoin" detail)
    import re as _re
    n_bnlj = len(_re.findall(r"^\(\d+\) BroadcastNestedLoopJoin",
                             samp_plan, _re.M))
    check("mixture sample: no data-sized cross product",
          "CartesianProduct" not in samp_plan and n_bnlj <= 1,
          f"nested-loop join nodes: {n_bnlj} (1-row scalar-min broadcast)")

    # 14. curation funnel: stage rollups broadcast back onto the
    #     |sources|-row spine; no cross product anywhere
    from json_schema_modern_spark.operators.funnel import curation_funnel

    fn_plan = explain_str(curation_funnel(docs))
    check("funnel: stage rollups broadcast-joined",
          "BroadcastHashJoin" in fn_plan)
    check("funnel: no cross product", no_cross(fn_plan))

    # 15. bloom incremental dedup: the exact verification is a
    #     broadcast/hash anti-join on the fingerprint (equi), and the
    #     definite-new branch reaches the union without any join
    from json_schema_modern_spark.operators.bloom import incremental_new_docs

    bl_plan = explain_str(incremental_new_docs(
        docs.filter(F.col("doc_id") % 3 == 0),
        docs.filter(F.col("doc_id") % 7 != 0)))
    check("bloom dedup: anti-join is equi (no cross product)",
          no_cross(bl_plan))
    check("bloom dedup: LeftAnti verification join present",
          "LeftAnti" in bl_plan)

    # 16. shard shuffle: exactly one hash exchange (the per-shard sort the
    #     shard writer needs anyway); the scan must prune text
    from json_schema_modern_spark.operators.shards import assign_shards

    sh_plan2 = explain_str(assign_shards(docs.select("doc_id"), n_shards=8))
    n_sh_ex = sum(1 for ln in sh_plan2.splitlines()
                  if ln.strip().startswith("Arguments: hashpartitioning"))
    check("shards: single shard-key exchange", n_sh_ex == 1,
          f"hash exchanges: {n_sh_ex}")
    check("shards: text pruned from scan",
          all("text" not in ln for ln in sh_plan2.splitlines()
              if "ReadSchema" in ln))

    # 17. DSIR: the B-row ratio table broadcasts (the token stream never
    #     shuffles for the join); the only nested-loop node is the 1-row
    #     totals broadcast (same scalar pattern as mixture sampling)
    from json_schema_modern_spark.operators.importance import dsir_weights

    ds_plan = explain_str(dsir_weights(docs))
    check("dsir: ratio table broadcast-joined",
          "BroadcastHashJoin" in ds_plan)
    n_ds_bnlj = len(_re.findall(r"^\(\d+\) BroadcastNestedLoopJoin",
                                ds_plan, _re.M))
    check("dsir: no data-sized cross product",
          "CartesianProduct" not in ds_plan and n_ds_bnlj <= 1,
          f"nested-loop join nodes: {n_ds_bnlj} (1-row totals broadcast)")

    # 18. SemDeDup: O(n) scoring — representative table broadcast-equi-
    #     joined on the bucket key, never a pairwise self-join
    from json_schema_modern_spark.operators.similarity import semantic_dedup

    sd_plan = explain_str(semantic_dedup(emb, threshold=0.3))
    check("semdedup: rep table broadcast-joined on bucket",
          "BroadcastHashJoin" in sd_plan)
    check("semdedup: no cross product / pairwise self-join",
          no_cross(sd_plan))

    # 19. diversity: gram/unigram aggregates partial-combine before the
    #     shuffle (volume O(|distinct| x partitions), never the stream)
    from json_schema_modern_spark.operators.diversity import (
        distinct_ngram_ratio, zipf_slope,
    )

    def partial_then_exchange(plan: str) -> bool:
        """Formatted explain prints the tree final-first, so map-side
        combine shows as HashAggregate above an Exchange above another
        HashAggregate (final <- shuffle <- partial)."""
        kinds = [k for ln in plan.splitlines()
                 for k in ("HashAggregate", "Exchange")
                 if k in ln and ln.strip().startswith(("+-", ":", "*(", "Hash", "Exch"))]
        for i in range(len(kinds) - 2):
            if kinds[i] == "HashAggregate" and kinds[i + 1] == "Exchange" \
                    and kinds[i + 2] == "HashAggregate":
                return True
        return False

    dv_plan = explain_str(distinct_ngram_ratio(docs, n=2))
    check("diversity: map-side combine (HashAgg -> Exchange -> HashAgg)",
          partial_then_exchange(dv_plan))
    check("diversity: no cross product", no_cross(dv_plan))
    zf_plan = explain_str(zipf_slope(docs))
    check("zipf: map-side combine (HashAgg -> Exchange -> HashAgg)",
          partial_then_exchange(zf_plan))
    check("zipf: no cross product", no_cross(zf_plan))

    # 20. round-5 diagnostics keep the bounded-shuffle / no-pair-list shape
    from json_schema_modern_spark.operators.dedup import duplicate_span_coverage
    from json_schema_modern_spark.operators.drift import chi2_drift, rank_corr_matrix

    toked = docs.withColumn(
        "tokens",
        F.transform(
            F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                     lambda w: w != F.lit("")),
            lambda w: (F.length(w) * 32 + F.pmod(F.ascii(w), F.lit(32))).cast("int")))
    c2_plan = explain_str(chi2_drift(docs, "n_chars", "source", 0.0, 600.0, 30))
    check("chi2 drift: map-side combine (HashAgg -> Exchange -> HashAgg)",
          partial_then_exchange(c2_plan))
    check("chi2 drift: globals broadcast (no shuffled grid join)",
          "BroadcastNestedLoopJoin" in c2_plan or "BroadcastExchange" in c2_plan)
    rc_plan = explain_str(rank_corr_matrix(toked, top_k=100))
    check("rank corr: pair join is equi on token (no cross product)",
          no_cross(rc_plan))
    check("rank corr: map-side combine before rank window",
          partial_then_exchange(rc_plan))
    sc_plan = explain_str(duplicate_span_coverage(toked, ngram_n=5))
    check("span coverage: no pair list (no cross product)", no_cross(sc_plan))
    check("span coverage: gram doc-frequency partial-combines",
          partial_then_exchange(sc_plan))

    # 21. round-5 curation ops: no raw-row windows, broadcast joins back
    from json_schema_modern_spark.operators.diversity import vocab_growth
    from json_schema_modern_spark.operators.funnel import (
        group_cap_filter, token_budget_filter,
    )

    scored = docs.select(
        "doc_id", "source", "lang",
        (F.col("n_chars") % 100 / 100.0).alias("quality_score"),
        F.col("n_chars").alias("n_tok"))
    tb_plan = explain_str(token_budget_filter(scored, 600))
    check("token budget: levels partial-combine before the window",
          partial_then_exchange(tb_plan))
    check("token budget: cutoff broadcast back (no second data shuffle)",
          "BroadcastExchange" in tb_plan)
    check("token budget: no cross product", no_cross(tb_plan))
    gc_plan = explain_str(group_cap_filter(docs, cap=10))
    n_windows = sum(1 for ln in gc_plan.splitlines()
                    if ln.strip().startswith(("+-", ":", "*("))
                    and "Window" in ln)
    check("domain cap: rank window only on the over-cap branch",
          n_windows == 1, f"windows={n_windows}")
    check("domain cap: group counts broadcast", "BroadcastExchange" in gc_plan)
    vg_plan = explain_str(vocab_growth(toked))
    check("vocab growth: first-shard min partial-combines",
          partial_then_exchange(vg_plan))
    check("vocab growth: no cross product", no_cross(vg_plan))

    # 21. token-run stats: the per-doc fold must stay a row-local
    #     expression — no Generate (explode) and no Window anywhere
    from json_schema_modern_spark.operators.tokens import token_run_stats

    tr_plan = explain_str(token_run_stats(toked))
    check("token runs: no explode, no window (row-local fold)",
          "Generate" not in tr_plan and "Window" not in tr_plan)
    check("token runs: partial agg before shuffle",
          partial_then_exchange(tr_plan))

    # 22. perplexity buckets: thresholds must come back via a broadcast
    #     join (per-group ntile would sort a whole source on one task)
    from json_schema_modern_spark.operators.lm_score import perplexity_buckets

    sc_df = docs.select(
        "doc_id", "source", (F.col("n_chars") / 100.0).alias("lm_score"))
    pb_plan = explain_str(perplexity_buckets(sc_df))
    check("ppl buckets: thresholds broadcast back",
          "BroadcastExchange" in pb_plan)
    check("ppl buckets: no per-group sort window", "Window" not in pb_plan)
    check("ppl buckets: no cross product", no_cross(pb_plan))

    # 23. round-5 map-stage operators: encoding screen, Gopher battery,
    #     C4 cleaning, normalization must stay pure map stages — no
    #     Exchange, no Generate, and a scan pruned to (doc_id, text)
    from json_schema_modern_spark.operators.text import (
        c4_clean, encoding_quality, gopher_rules, normalize_text,
    )

    for nm, op in (("encoding screen", encoding_quality),
                   ("gopher rules", gopher_rules),
                   ("c4 clean", c4_clean),
                   ("normalize", normalize_text)):
        pl = explain_str(op(docs))
        check(f"{nm}: pure map stage (no Exchange, no Generate)",
              "Exchange" not in pl and "Generate" not in pl)
        check(f"{nm}: scan pruned to doc_id,text",
              "lang" not in pl.split("ReadSchema")[-1][:200]
              and "n_chars" not in pl.split("ReadSchema")[-1][:200])

    # 24. chunking: the posexplode Generate is the ONLY row-multiplying
    #     node and there is no shuffle — chunk_idx must not need a sort
    from json_schema_modern_spark.operators.packing import chunk_sequences

    ch_plan = explain_str(chunk_sequences(toked, seq_len=32, stride=24))
    check("chunking: explode without shuffle",
          "Generate" in ch_plan and "Exchange" not in ch_plan
          and "Sort" not in ch_plan)

    # 25. run collapse: index-aware filter is row-local — no Exchange,
    #     no Generate
    from json_schema_modern_spark.operators.tokens import collapse_token_runs

    cr_plan = explain_str(collapse_token_runs(toked))
    check("run collapse: pure map stage",
          "Exchange" not in cr_plan and "Generate" not in cr_plan)

    # 26. compression ratio: exactly one Arrow-batched python node, no
    #     shuffle
    from json_schema_modern_spark.operators.text import compression_ratio

    cz_plan = explain_str(compression_ratio(docs))
    # formatted explain prints each node twice (tree + detail); the tree
    # line is "ArrowEvalPython (n)"
    check("compression ratio: one Arrow UDF pass, no shuffle",
          cz_plan.count("ArrowEvalPython (") == 1
          and "Exchange" not in cz_plan)

    # 27. embedding outliers: centroid table broadcast back (the only
    #     join is |labels|-row), no cross product, and the label window
    #     is the only Window
    from json_schema_modern_spark.operators.similarity import embedding_outliers

    eo_plan = explain_str(embedding_outliers(emb, top_k=5))
    check("emb outliers: centroid joined via broadcast",
          "BroadcastExchange" in eo_plan)
    check("emb outliers: no cross product", no_cross(eo_plan))
    check("emb outliers: single top-k window",
          eo_plan.count("Window\n") <= 2)  # tree + detail print

    # 27b. centroid distance matrix: the pairwise join must run over the
    #      |labels|-row centroid table (broadcast), never the corpus
    from json_schema_modern_spark.operators.similarity import (
        centroid_distance_matrix,
    )

    cd_plan = explain_str(centroid_distance_matrix(emb))
    check("centroid matrix: pair join broadcast (labels-row table)",
          "BroadcastExchange" in cd_plan and "CartesianProduct" not in cd_plan)
    check("centroid matrix: corpus aggregated before any join (HashAggregate precedes join input)",
          "HashAggregate" in cd_plan)

    # 28. langid confusion: totals joined via broadcast, prediction is
    #     codegen'd (no python nodes anywhere)
    from json_schema_modern_spark.operators.text import language_confusion

    lc_plan = explain_str(language_confusion(docs))
    check("langid confusion: totals broadcast", "BroadcastExchange" in lc_plan)
    check("langid confusion: no python in the row loop",
          "EvalPython" not in lc_plan)

    # 29. tfidf top terms: idf joined via broadcast HASH join (|vocab|
    #     rows), the only nested-loop is the broadcast N singleton, no
    #     cartesian product
    from json_schema_modern_spark.operators.text import tfidf_top_terms

    ti_plan = explain_str(tfidf_top_terms(docs, top_k=3))
    check("tfidf: idf join is broadcast hash", "BroadcastHashJoin" in ti_plan)
    check("tfidf: no cartesian product", "CartesianProduct" not in ti_plan)
    check("tfidf: nested-loop only for the N singleton",
          ti_plan.count("BroadcastNestedLoopJoin\n") <= 2)  # tree + detail

    # 30. token contamination: benchmark gram set broadcast, training
    #     side never cross-joined, no python nodes
    from json_schema_modern_spark.operators.contamination import (
        token_ngram_contamination,
    )

    tc_plan = explain_str(token_ngram_contamination(
        toked.where("doc_id % 10 != 0"), toked.where("doc_id % 10 = 0"), k=8))
    check("token contamination: benchmark grams broadcast",
          "BroadcastExchange" in tc_plan)
    check("token contamination: no cross product", no_cross(tc_plan))
    check("token contamination: no python in the row loop",
          "EvalPython" not in tc_plan)

    # 31. heavy-hitter grams: ONE MapInPandas sketch stage, candidate set
    #     broadcast into the exact-verify join, no cross product, and the
    #     total-gram singleton is the only nested-loop
    from json_schema_modern_spark.operators.tokens import heavy_hitter_grams

    hh_plan = explain_str(heavy_hitter_grams(toked, denom=500))
    check("heavy hitters: single MapInPandas sketch stage",
          hh_plan.count("MapInPandas") <= 2)  # tree node + detail section
    check("heavy hitters: candidates joined via broadcast hash",
          "BroadcastHashJoin" in hh_plan)
    check("heavy hitters: no cartesian product",
          "CartesianProduct" not in hh_plan)
    check("heavy hitters: nested-loop only for the total singleton",
          hh_plan.count("BroadcastNestedLoopJoin\n") <= 2)

    # 32. snapshot-delta validation: the prior-snapshot diff is an ANTI
    #     join (broadcast at this sf; either strategy is key-partitioned,
    #     never a cross product) and the constraint pass stays codegen
    from json_schema_modern_spark.validator import Validator as _V

    prior = docs.where("((doc_id % 10) + 10) % 10 < 7").select("doc_id")
    delta = docs.join(prior, "doc_id", "left_anti")
    vd_plan = explain_str(
        _V(_flagship_spec()).validate(delta, id_cols=["doc_id"]).annotated)
    check("validate delta: anti join on the snapshot diff",
          "LeftAnti" in vd_plan)
    check("validate delta: no cross product", no_cross(vd_plan))
    check("validate delta: constraint pass stays codegen (no EvalPython)",
          "EvalPython" not in vd_plan)

    print()
    if FAILURES:
        print(f"{len(FAILURES)} failures: {FAILURES}")
        sys.exit(1)
    print("all plan-quality checks passed")


if __name__ == "__main__":
    main()
