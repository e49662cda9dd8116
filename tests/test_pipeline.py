"""Golden pipeline test: planted-cluster recall + sequential exclusion."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from refine_spark import synth
from refine_spark.pipeline import pair_recall, run_dedup


def test_full_pipeline_recall_and_exclusions(spark, tmp_path):
    docs, truth = synth.to_spark(spark, n_docs=500)
    result = run_dedup(spark, docs, checkpoint_dir=str(tmp_path / "ckpt"))
    clusters = result["clusters"].cache()

    # recall >= 0.99 vs planted (non-sequential) dup pairs (BASELINE.md)
    recall = pair_recall(clusters, truth)
    assert recall >= 0.99, f"recall {recall:.4f} < 0.99"

    # sequential families must NOT be co-clustered by the name pass
    seq_urls = [r["url"] for r in truth.filter(F.col("family") == "sequential").collect()]
    seq_clusters = clusters.filter(F.col("url").isin(seq_urls)).collect()
    # a sequential url may appear via some other pass only if text/substring
    # genuinely links it; with planted distinct texts none should cluster
    assert len(seq_clusters) == 0, f"sequential rows clustered: {seq_clusters[:5]}"

    # metrics recorded per stage
    stages = {m["stage"] for m in result["metrics"]}
    assert {"exact_edges", "text_edges", "name_edges", "substring_edges", "clusters"} <= stages


def test_exact_pass_shuffle_never_carries_payload(spark):
    """Plan-regression guard (round-2 fix): every Exchange in the
    exact-dup plan must carry only the narrow projection — the html
    payload is hashed map-side and never crosses a shuffle."""
    import contextlib
    import io
    import re

    from refine_spark.exact import exact_dup_groups

    docs, _ = synth.to_spark(spark, n_docs=50)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        exact_dup_groups(docs).explain("formatted")
    plan = buf.getvalue()
    # detail sections start "(N) NodeName"; Exchange inputs must not
    # mention the html or text columns
    for section in re.split(r"\n\n", plan):
        if re.match(r"\s*\(\d+\) Exchange", section):
            assert "html#" not in section and "text#" not in section, section


def test_stage_runner_recomputes_partial_stage(spark, tmp_path):
    """A stage directory without _SUCCESS (crashed mid-write) must be
    recomputed on resume while complete stages still resume."""
    import os

    from refine_spark.pipeline import run_dedup

    docs, _ = synth.to_spark(spark, n_docs=150)
    ckpt = str(tmp_path / "ckpt")
    run_dedup(spark, docs, checkpoint_dir=ckpt)
    os.remove(os.path.join(ckpt, "signatures", "_SUCCESS"))
    res = run_dedup(spark, docs, checkpoint_dir=ckpt)
    by_stage = {m["stage"]: m.get("extra") for m in res["metrics"]}
    assert by_stage["signatures"] is None  # recomputed
    assert by_stage["exact_edges"] == "resumed"


def test_name_pass_prefix_blocking_exact(spark):
    """Weighted prefix filtering must not change the name-pass edge set
    vs scoring ALL shared-token pairs (the bound argument in
    scoring._weight_frame): the fused name_pass_edges must equal
    score_name_pairs over uncapped inverted-token blocking."""
    from refine_spark.candidates import token_block_candidates
    from refine_spark.config import DedupConfig
    from refine_spark.pipeline import prepare
    from refine_spark.scoring import name_pass_edges, score_name_pairs

    docs, _ = synth.to_spark(spark, n_docs=800)
    named = prepare(docs).localCheckpoint().select(
        "url", "cleaned_name", "tokens", "kind"
    )
    # uncapped full blocking = the reference's inverted-index semantics
    cfg = DedupConfig(band_cap=10**9)
    full = {
        (r[0], r[1], round(r[2], 9))
        for r in score_name_pairs(
            token_block_candidates(named, cfg), named
        ).select("src", "dst", "sim").collect()
    }
    fused = {
        (r[0], r[1], round(r[2], 9))
        for r in name_pass_edges(named).select("src", "dst", "sim").collect()
    }
    assert fused == full


def test_lazy_mode_equivalent(spark):
    """The bench path (lazy=True: no per-stage materialization) must
    produce the identical clustering to the default resumable path."""
    docs, _ = synth.to_spark(spark, n_docs=300)
    a = {
        (r["url"], r["cluster_id"])
        for r in run_dedup(spark, docs)["clusters"].collect()
    }
    b = {
        (r["url"], r["cluster_id"])
        for r in run_dedup(spark, docs, lazy=True)["clusters"].collect()
    }
    assert a == b


def test_fused_signatures_match(spark):
    """The fused minhash+simhash kernel must be bit-identical to the
    standalone kernels (the graded simhash_fingerprints query and the
    DuckDB oracle use the standalone path)."""
    from pyspark.sql import functions as F

    from refine_spark.signatures import (
        make_minhash_udf, make_simhash_udf, with_signatures,
    )

    docs, _ = synth.to_spark(spark, n_docs=60)
    texts = docs.select("url", "text")
    fused = {
        r["url"]: (tuple(r["minhash"]), r["simhash"])
        for r in with_signatures(texts).collect()
    }
    mh, sh = make_minhash_udf(), make_simhash_udf()
    solo = {
        r["url"]: (tuple(r["m"]), r["s"])
        for r in texts.select(
            "url", mh(F.col("text")).alias("m"), sh(F.col("text")).alias("s")
        ).collect()
    }
    assert fused == solo


def test_distributed_cc_matches_driver_path(spark):
    # force the iterative min-label loop (cutover=0) and compare with the
    # driver union-find on the same edge set
    from refine_spark.cluster import connected_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "g"), ("g", "a")],
        "src string, dst string",
    ).withColumn("sim", F.lit(1.0)).withColumn("pass_name", F.lit("t"))
    fast = {
        r["url"]: r["cluster_id"]
        for r in connected_components(edges).collect()
    }
    dist = {
        r["url"]: r["cluster_id"]
        for r in connected_components(edges, driver_cutover=0).collect()
    }
    assert fast == dist
    assert fast["c"] == "a" and fast["f"] == "a" and fast["e"] == "d"

    # a path longer than any fixed round budget: the loop must run to
    # convergence, so every vertex ends up with the path's minimum id
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(26)], "src long, dst long"
    )
    labels = {
        r["url"]: r["cluster_id"]
        for r in connected_components(path, driver_cutover=0).collect()
    }
    assert labels == {i: 0 for i in range(27)}


def test_cluster_stats_avg_sim_is_order_free(spark):
    # a double sum of 0.1 + 0.2 + 0.3 depends on the order the rows
    # arrive in (0.20000000000000004 one way, 0.19999999999999998 the
    # other); avg_sim must not
    from refine_spark.cluster import cluster_stats

    rows = [("a", "b", 0.1), ("a", "c", 0.2), ("a", "d", 0.3)]
    labels = spark.createDataFrame(
        [(u, "a") for u in "abcd"], "url string, cluster_id string"
    )
    avgs = []
    for ordered in (rows, rows[::-1]):
        edges = spark.createDataFrame(ordered, "src string, dst string, sim double")
        stats = cluster_stats(edges.coalesce(1), labels).collect()
        assert [(r["cluster_id"], r["n_edges"], r["cluster_size"]) for r in stats] == [
            ("a", 3, 4)
        ]
        avgs.append(stats[0]["avg_sim"])
    assert avgs[0] == avgs[1] == 0.2


@pytest.mark.parametrize("distributed_cc", [False, True])
def test_name_pass_drops_sequential_clusters(spark, monkeypatch, distributed_cc):
    # planted name edges: a sequential cluster (episodes 1-4), a
    # duplicate-name cluster and an unrelated pair; only the sequential
    # cluster's edges may be dropped, on either CC path
    import functools
    import warnings

    from refine_spark import cluster
    from refine_spark.cluster import connected_components, name_pass_clusters

    if distributed_cc:
        monkeypatch.setattr(
            cluster, "connected_components",
            functools.partial(connected_components, driver_cutover=0),
        )
    names = {1: "show ep 1", 2: "show ep 2", 3: "show ep 3", 4: "show ep 4",
             10: "great movie", 11: "great movie", 12: "great movie",
             20: "holiday photos", 21: "tax return"}
    named = spark.createDataFrame(list(names.items()), "doc_id long, cleaned_name string")
    edges = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.9), (3, 4, 0.9), (10, 11, 1.0), (11, 12, 1.0),
         (20, 21, 0.75)],
        "src long, dst long, sim double",
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        clusters, surviving = name_pass_clusters(edges, named, id_col="doc_id")
    assert not [w for w in caught if issubclass(w.category, UserWarning)]

    assert sorted(tuple(r) for r in surviving.collect()) == [
        (10, 11, 1.0, "name"), (11, 12, 1.0, "name"), (20, 21, 0.75, "name"),
    ]
    assert {r["doc_id"]: r["cluster_id"] for r in clusters.collect()} == {
        10: 10, 11: 10, 12: 10, 20: 20, 21: 20,
    }


def test_checkpoint_resume(spark, tmp_path, monkeypatch):
    from refine_spark import cluster, pipeline

    docs, _ = synth.to_spark(spark, n_docs=200)
    ck = str(tmp_path / "ckpt2")
    passes = ("exact", "name")
    r1 = run_dedup(spark, docs, checkpoint_dir=ck, passes=passes)
    rows1 = sorted(tuple(r) for r in r1["clusters"].collect())

    # a fully resumed run reads every stage back: neither the name pass
    # nor the global clustering may label anything again
    calls = []
    for mod in (pipeline, cluster):
        real = mod.connected_components
        monkeypatch.setattr(
            mod, "connected_components",
            lambda *a, _real=real, **k: calls.append(1) or _real(*a, **k),
        )
    r2 = run_dedup(spark, docs, checkpoint_dir=ck, passes=passes)
    assert sorted(tuple(r) for r in r2["clusters"].collect()) == rows1
    assert calls == []
    assert all(m["extra"] == "resumed" for m in r2["metrics"])

    # a misspelled or empty pass list fails before any Spark job, rather
    # than an IndexError after the work or a silently partial clustering
    for bad in [("txt",), ("exact", "txt"), ()]:
        with pytest.raises(ValueError, match="passes"):
            run_dedup(spark, docs, checkpoint_dir=ck, passes=bad)


def test_simhash_edges_hot_bucket_exact(spark):
    """Dedupe-before-banding correctness guard (round-3): a group of
    identical fingerprints FAR larger than band_cap must still produce
    every hamming-ball pair in expand='pairs' mode (the old behavior
    truncated the hot band bucket and dropped true edges), and
    expand='star' must yield the same connected components with only
    O(members) edges."""
    import dataclasses

    from refine_spark.cluster import connected_components
    from refine_spark.config import DEFAULT
    from refine_spark.signatures import simhash_edges

    cfg = dataclasses.replace(DEFAULT, band_cap=5)
    fp_a = 0x0FF00FF00FF00FF
    fp_b = fp_a ^ 0b11  # hamming 2 from fp_a (within ball of 3)
    fp_far = fp_a ^ ((1 << 50) - 1)  # far outside every band
    rows = (
        [(f"a{i:03d}", fp_a) for i in range(40)]
        + [(f"b{i:03d}", fp_b) for i in range(25)]
        + [("z000", fp_far)]
    )
    docs = spark.createDataFrame(rows, "url string, simhash long")

    pairs = simhash_edges(docs, cfg, expand="pairs").collect()
    expected = 40 * 39 // 2 + 25 * 24 // 2 + 40 * 25
    assert len(pairs) == expected, f"{len(pairs)} != {expected}"
    assert all(r["src"] < r["dst"] for r in pairs)
    sims = {round(r["sim"], 6) for r in pairs}
    assert sims == {1.0, round(1 - 2 / 60, 6)}
    assert not any(r["src"] == "z000" or r["dst"] == "z000" for r in pairs)

    star = simhash_edges(docs, cfg, expand="star")
    assert star.count() == 39 + 24 + 1  # two stars + one rep-rep edge
    cc_star = {
        r["url"]: r["cluster_id"] for r in connected_components(star).collect()
    }
    cc_pairs = {
        r["url"]: r["cluster_id"]
        for r in connected_components(
            spark.createDataFrame(pairs)
        ).collect()
    }
    assert cc_star == cc_pairs
    assert len(set(cc_star.values())) == 1  # a+b merged, z absent


def test_cap_stats_metrics_logged(spark):
    """Band-cap drop volume must be surfaced, not silent: non-lazy runs
    log one cap_stats metrics row per bucketed pass, and a tiny band_cap
    on a dup-heavy corpus reports a positive dropped-pair estimate for
    the LSH pass (identical docs collide in every band)."""
    import dataclasses
    import re

    from refine_spark.config import DEFAULT

    docs, _ = synth.to_spark(spark, n_docs=150)
    tiny = dataclasses.replace(DEFAULT, band_cap=2)
    result = run_dedup(spark, docs, cfg=tiny, passes=("text", "simhash", "substring"))
    rows = {m["stage"]: m for m in result["metrics"]}
    for stage in ("text_edges_cap", "simhash_edges_cap", "substring_edges_cap"):
        assert stage in rows, f"missing {stage} metrics row"
        assert rows[stage]["extra"].startswith("cap_stats ")
    m = re.search(r"est_dropped_pairs=(\d+)", rows["text_edges_cap"]["extra"])
    assert m and int(m.group(1)) > 0

    # default cap on the same corpus: nothing dropped, accounting says so
    result2 = run_dedup(spark, docs, passes=("text",))
    extra = {m["stage"]: m for m in result2["metrics"]}["text_edges_cap"]["extra"]
    assert "capped_buckets=0" in extra and "est_dropped_pairs=0" in extra


# None: the session default (1000 in Spark 4.1), above the test cap;
# -1: no map-side limit, the plan the pipeline's band_cap of 2000 runs
@pytest.mark.parametrize(
    "group_limit_threshold", [None, "-1"], ids=["default", "disabled"]
)
def test_pairs_from_buckets_cap_contract(spark, group_limit_threshold):
    """The bucket-pair operator on a planted hot bucket of n > cap ids:
    distinct src < dst pairs, the hot bucket reduced to all pairs of its
    cap smallest ids, and bucket_cap_stats reporting the exact shortfall
    C(n,2) - C(cap,2). One pass: the plan shuffles on the bucket key and
    on (src, dst), broadcasts nothing, and drops over-cap rows map-side
    exactly when the cap is within windowGroupLimitThreshold."""
    import contextlib
    import io
    import re
    from itertools import combinations

    from refine_spark.candidates import _pairs_from_buckets, bucket_cap_stats

    n, cap = 7, 4
    hot = [16, 12, 10, 15, 11, 14, 13]  # key 1, shuffled
    rows = [(1, i) for i in hot]
    # cold buckets: (100, 101) shares keys 2 and 3, so it is emitted twice
    # before the operator's dedup
    rows += [(2, 100), (2, 101), (3, 101), (3, 100), (3, 102), (4, 103)]
    keyed = spark.createDataFrame(rows, "k long, id long")

    key = "spark.sql.optimizer.windowGroupLimitThreshold"
    before = spark.conf.get(key, None)
    if group_limit_threshold is not None:
        spark.conf.set(key, group_limit_threshold)
    try:
        pairs = _pairs_from_buckets(keyed, "id", ["k"], cap)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            pairs.explain()
        out = [(r["src"], r["dst"]) for r in pairs.collect()]
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
    plan = buf.getvalue()
    assert "BroadcastExchange" not in plan
    exchanges = [
        re.sub(r"#\d+L?", "", keys)
        for keys in re.findall(r"\bExchange hashpartitioning\((.*?), \d+\)", plan)
    ]
    assert exchanges == ["src, dst", "k"]
    assert len(re.findall(r"\bExchange\b", plan)) == 2
    assert ("WindowGroupLimit" in plan) == (group_limit_threshold is None)

    assert len(out) == len(set(out))
    assert all(s < d for s, d in out)
    want_hot = set(combinations(sorted(hot)[:cap], 2))
    assert {p for p in out if p[0] < 100} == want_hot
    assert len(want_hot) == cap * (cap - 1) // 2
    assert {p for p in out if p[0] >= 100} == {(100, 101), (100, 102), (101, 102)}

    stats = bucket_cap_stats(keyed, ["k"], cap).collect()[0]
    assert stats["n_buckets"] == 3  # key 4 is a singleton
    assert stats["n_capped"] == 1
    assert stats["est_dropped_pairs"] == n * (n - 1) // 2 - cap * (cap - 1) // 2


def test_edge_passes_shuffle_int_ids_not_urls(spark):
    """Round-4 scale guard: with the pipeline's int64 doc_id threaded
    through, no Exchange in any edge pass may carry the url string (or
    payload columns) — urls attach once at cluster emission. The
    shuffle-bound middle was measured bandwidth-limited; 8-byte keys are
    the fix (VERDICT r3 item 1)."""
    import contextlib
    import io
    import re

    from refine_spark.exact import exact_edges
    from refine_spark.pipeline import minhash_edges, prepare
    from refine_spark.scoring import name_pass_edges
    from refine_spark.signatures import simhash_edges, with_signatures
    from refine_spark.substring import substring_edges

    docs, _ = synth.to_spark(spark, n_docs=60)
    base = prepare(docs).localCheckpoint()
    signed = with_signatures(base.select("doc_id", "text"))
    named = base.select("doc_id", "cleaned_name", "tokens", "kind")
    frames = {
        "exact": exact_edges(base, id_col="doc_id"),
        "text": minhash_edges(signed, id_col="doc_id"),
        "simhash": simhash_edges(signed, expand="star", id_col="doc_id"),
        "name": name_pass_edges(named, id_col="doc_id"),
        "substring": substring_edges(base, id_col="doc_id"),
    }
    for pass_name, df in frames.items():
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        for section in re.split(r"\n\n", buf.getvalue()):
            if re.match(r"\s*\(\d+\) Exchange", section):
                assert "url#" not in section, (pass_name, section)
                assert "html#" not in section, (pass_name, section)

def test_minhash_verify_join_broadcasts_pairs(spark):
    """Round-4 cost-model guard: with a small candidate-pair set, the
    signature verify join must broadcast the pair side (payload table
    scanned, not shuffled) and compare int32 signature views. Above the
    row cap materialize_pairs withholds the hint (corpus-scale path) —
    exercised by passing a tiny cap through the helper directly."""
    import contextlib
    import io

    from refine_spark.candidates import materialize_pairs
    from refine_spark.pipeline import minhash_edges, prepare
    from refine_spark.signatures import with_signatures

    docs, _ = synth.to_spark(spark, n_docs=80)
    base = prepare(docs).localCheckpoint()
    signed = with_signatures(base.select("doc_id", "text")).localCheckpoint()
    edges = minhash_edges(signed, id_col="doc_id")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        edges.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan, plan

    # the gate: above the row cap the hint is withheld (the logical plan
    # carries no ResolvedHint), below it the hint is present
    pairs = spark.range(10).selectExpr("id as src", "id + 1 as dst")
    over, n_over = materialize_pairs(pairs, broadcast_max_rows=5)
    under, n_under = materialize_pairs(pairs, broadcast_max_rows=50)
    assert n_over == 10 and n_under == 10
    assert "hint" not in over._jdf.queryExecution().logical().toString().lower()
    assert "hint" in under._jdf.queryExecution().logical().toString().lower()

    # BYTE gate (round-4 ADVICE): rows under the row cap but wide string
    # ids over the byte budget must also withhold the hint — url-keyed
    # standalone callers would otherwise collect GBs for the broadcast
    wide = spark.range(10).selectExpr(
        "repeat('u', 200) || id as src", "repeat('v', 200) || id as dst"
    )
    fat, n_fat = materialize_pairs(wide, broadcast_max_bytes=1024)
    slim, n_slim = materialize_pairs(wide)
    assert n_fat == 10 and n_slim == 10
    assert "hint" not in fat._jdf.queryExecution().logical().toString().lower()
    assert "hint" in slim._jdf.queryExecution().logical().toString().lower()


def test_gated_lineage_runs_once(spark):
    """A size gate rides on the job that materializes the frame it gates:
    the lineage feeding connected_components' driver path and
    materialize_pairs evaluates once. A separate sizing job, or a gate
    followed by a collect of the same unmaterialized lineage, runs the
    counting UDF below a second time."""
    from refine_spark.candidates import materialize_pairs
    from refine_spark.cluster import connected_components

    def counting_identity(acc):
        @F.pandas_udf("long")
        def ident(s: pd.Series) -> pd.Series:
            acc.add(len(s))
            return s

        return ident

    sc = spark.sparkContext
    cc_rows = sc.accumulator(0)
    edges = spark.range(300).select(
        counting_identity(cc_rows)(F.col("id")).alias("src"),
        (F.col("id") + 1000).alias("dst"),
    )
    labels = connected_components(edges, id_col="v")  # 300 edges: driver path
    assert cc_rows.value == 300
    assert labels.count() == 600

    pair_rows = sc.accumulator(0)
    pairs = spark.range(300).select(
        counting_identity(pair_rows)(F.col("id")).alias("src"),
        (F.col("id") + 1).alias("dst"),
    )
    frame, n = materialize_pairs(pairs)
    assert n == 300 and frame.count() == 300
    assert pair_rows.value == 300


def test_sized_checkpoint_and_stage_rows(spark, tmp_path):
    """_sized_checkpoint sizes an empty frame as (0 rows, 0 bytes) with
    its schema intact, and a StageRunner metrics row reports the stage's
    true row count in the lazy reused path and the checkpoint-dir path,
    both observed inside the job that materializes the stage."""
    from refine_spark.checkpoint import StageRunner, _sized_checkpoint

    empty = spark.createDataFrame([], "src bigint, dst bigint")
    frame, n, est = _sized_checkpoint(empty)
    assert (n, est) == (0, 0)
    assert frame.dtypes == [("src", "bigint"), ("dst", "bigint")]
    assert len(frame.toPandas()) == 0

    df = spark.range(100).filter(F.col("id") % 3 == 0).select(
        F.col("id").alias("k"), F.lit("x").alias("s")
    )
    expected = df.count()
    lazy = StageRunner(spark, lazy=True)
    lazy.run("reused", lambda: df, reused=True)
    ckpt = StageRunner(spark, str(tmp_path / "ckpt"))
    ckpt.run("written", lambda: df)
    assert lazy.metrics[0]["rows"] == expected == 34
    assert ckpt.metrics[0]["rows"] == expected


def _substring_edge_set(docs, cfg=None):
    from refine_spark.config import DEFAULT
    from refine_spark.substring import substring_edges

    return {
        (r["src"], r["dst"], r["sim"])
        for r in substring_edges(docs, cfg or DEFAULT).collect()
    }


def test_substring_edges_need_one_shared_piece(spark):
    """Two 250-char pieces of x that overlap by 64 chars inside y put
    every 64-gram of x's 436-char stretch into y, yet the longest shared
    substring is 250 < min_substring=256: no edge at the default
    geometry. A hash-run estimate over n-grams found anywhere in y
    emitted this pair."""
    import random

    rng = random.Random(17)

    def letters(k):
        return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz ") for _ in range(k))

    stretch = letters(436)
    x = letters(200) + stretch + letters(100)
    y = stretch[:250] + "#" * 50 + stretch[186:]
    docs = spark.createDataFrame([("doc://x", x), ("doc://y", y)], "url string, text string")
    assert _substring_edge_set(docs) == set()


def test_substring_edges_free_of_winnow_split(spark):
    """The edges depend only on min_substring: every (n, w) split with
    n + w - 1 == 48 gives the same (src, dst, sim) set, sim included,
    because the verifier measures the exact shared length."""
    from refine_spark.config import DedupConfig
    from refine_spark.pipeline import prepare

    docs, _ = synth.to_spark(spark, n_docs=300)
    texts = prepare(docs).select("url", "text").localCheckpoint()
    got = [
        _substring_edge_set(
            texts, DedupConfig(min_substring=48, winnow_ngram=n, winnow_window=w)
        )
        for n, w in [(16, 33), (24, 25), (32, 17)]
    ]
    assert got[0] and got[0] == got[1] == got[2]


def test_substring_edges_corpus_scale_branch(spark, monkeypatch):
    """Above the text byte gate, the pair side is broadcast and the
    joined rows shuffled once; both branches give the same edges."""
    from refine_spark import substring
    from refine_spark.pipeline import prepare

    docs, _ = synth.to_spark(spark, n_docs=200)
    texts = prepare(docs).select("url", "text").localCheckpoint()
    small = _substring_edge_set(texts)
    monkeypatch.setattr(substring, "_BROADCAST_TEXT_MAX_BYTES", -1)
    assert small and _substring_edge_set(texts) == small


def test_resume_runs_no_count_job(spark, tmp_path):
    """A resumed stage takes its metrics row from the _metrics.json the
    writing run left beside _SUCCESS, so resuming runs no count job:
    beyond the work before the first stage, a resumed stage costs at
    most its parquet read. A stage directory without the row is
    recomputed."""
    import os

    from refine_spark.pipeline import prepare, verify_doc_ids

    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    docs, _ = synth.to_spark(spark, n_docs=300)
    ck = str(tmp_path / "ckpt")
    passes = ("exact", "name")
    r1 = run_dedup(spark, docs, checkpoint_dir=ck, passes=passes)
    rows1 = sorted(tuple(r) for r in r1["clusters"].collect())

    r2, n_resume = jobs("resume", lambda: run_dedup(spark, docs, checkpoint_dir=ck, passes=passes))
    assert sorted(tuple(r) for r in r2["clusters"].collect()) == rows1
    resumed = [m["stage"] for m in r2["metrics"] if m["extra"] == "resumed"]
    assert len(resumed) == len(r2["metrics"]) == 5
    assert [m["rows"] for m in r2["metrics"]] == [m["rows"] for m in r1["metrics"]]
    _, n_fixed = jobs("fixed", lambda: verify_doc_ids(prepare(docs).localCheckpoint()))
    _, n_reads = jobs(
        "reads", lambda: [spark.read.parquet(os.path.join(ck, s)) for s in resumed]
    )
    assert n_resume <= n_fixed + n_reads, (n_resume, n_fixed, n_reads)

    os.remove(os.path.join(ck, "name_edges", "_metrics.json"))
    r3 = run_dedup(spark, docs, checkpoint_dir=ck, passes=passes)
    by_stage = {m["stage"]: m["extra"] for m in r3["metrics"]}
    assert by_stage["name_edges"] is None and by_stage["exact_edges"] == "resumed"
    assert sorted(tuple(r) for r in r3["clusters"].collect()) == rows1
