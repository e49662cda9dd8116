"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   -> flagship dedup pipeline over sf0.001 documents
queries()      -> one entry per implemented operator (SURVEY.md §2)
oracle_sql()   -> DuckDB-equivalent SQL per query — EVERY query has one
                  (round 2): iterative/UDF operators are gated by
                  planted-truth VALUES oracles (the seeded generator's
                  expected partition), engine-reproducible hashing
                  (md5-low-60 simhash, md5-Rademacher LSH planes), or
                  first-principles SQL reconstructions (winnowing via
                  q-gram prefilter + containment; the sequential
                  detector's arithmetic; rebuild/rename window chains)

Column-name parity rule: every computed column is aliased identically in
the Spark query and the SQL (the driver sorts columns by name before
value-hashing). Float-valued outputs are avoided (counts/ids/strings) so
the hash comparison is engine-stable; where a float is semantically
unavoidable it is rounded in BOTH engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from refine_spark import synth
from refine_spark.analysis import (
    LANG_MARKERS, bpe_ish_count, doc_fingerprint, lang_id, quality_stats,
    token_count,
)
from refine_spark.clean import _KIND_BY_EXT, classify_kind, cleaned_name_cols
from refine_spark.exact import three_point_sample
from refine_spark.naming import apply_naming, compile_rules
from refine_spark.probe import deduped_names
from refine_spark.cluster import connected_components
from refine_spark.config import DedupConfig, STOPWORDS, TAGS_MULTI_PATTERN
from refine_spark.listing import NATURAL_KEY_DUCKDB, natural_key
from refine_spark.partitioning import spread_small
from refine_spark.pipeline import run_dedup
from refine_spark.scan import collection_parts
from refine_spark.signatures import make_simhash_udf, simhash_edges, with_signatures
from refine_spark.simsearch import brute_force_topk, cosine_dup_pairs, lsh_topk
from refine_spark.substring import substring_edges


def _ensure_workers_can_import(spark: SparkSession) -> None:
    """Executor python workers must be able to import refine_spark to
    unpickle the UDF closures. When the harness's session was created
    outside this repo's cwd/PYTHONPATH, ship the package to workers via
    addPyFile (the spark-submit --py-files contract, self-applied)."""
    sc = spark.sparkContext
    if getattr(sc, "_refine_spark_shipped", False):
        return
    import hashlib
    import os
    import tempfile
    import zipfile

    import refine_spark

    pkg_dir = os.path.dirname(os.path.abspath(refine_spark.__file__))
    sources = {}
    for fn in sorted(os.listdir(pkg_dir)):
        if fn.endswith(".py"):
            with open(os.path.join(pkg_dir, fn), "rb") as fh:
                sources[fn] = fh.read()
    # named by content, so an archive left behind by other code (a reused
    # pid, an older checkout) is never shipped: workers put shipped files
    # ahead of PYTHONPATH on sys.path
    digest = hashlib.sha256()
    for fn, data in sources.items():
        digest.update(f"{fn}\0{len(data)}\0".encode())
        digest.update(data)
    zpath = os.path.join(
        tempfile.gettempdir(), f"refine_spark_pyfiles_{digest.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(zpath):
        tmp = f"{zpath}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for fn, data in sources.items():
                zf.writestr(f"refine_spark/{fn}", data)
        os.replace(tmp, zpath)
    sc.addPyFile(zpath)
    sc._refine_spark_shipped = True


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_workers_can_import(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs_as_pipeline_input(docs: DataFrame) -> DataFrame:
    """Adapt the testdata documents table (doc_id, text, lang, source,
    n_chars) to the canonical pipeline shape (url, warc_ts, html, text,
    lang)."""
    return docs.select(
        F.concat(F.lit("doc://"), F.col("source"), F.lit("/"), F.col("doc_id")).alias("url"),
        F.timestamp_seconds(F.col("doc_id") + 1_700_000_000).alias("warc_ts"),
        F.encode("text", "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full near-dup pipeline over the sf0.001 documents table."""
    _ensure_workers_can_import(spark)
    docs = _docs_as_pipeline_input(_read(spark, "/root/testdata/sf0.001", "documents"))
    result = run_dedup(spark, docs, passes=("exact", "text"))
    return result["clusters"]


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

_STOPWORD_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)
# a fixed probe of the kind table: one ext per kind + an unknown one
_KIND_EXTS = ("mp4", "mp3", "jpg", "txt", "pdf", "zip", "srt", "exe", "xyz")
_LANG_SQL_HITS = {
    lang: "len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), "
    f"t -> t IN ({', '.join(repr(m) for m in markers)})))"
    for lang, markers in LANG_MARKERS.items()
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- dedup family (documents) ------------------------------------

    def exact_dup_groups(spark, sf):
        docs = _read(spark, sf, "documents")
        return (
            docs.groupBy(F.md5("text").alias("text_hash"))
            .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("rep_id"))
            .filter(F.col("n_dups") > 1)
        )

    q["exact_dup_groups"] = exact_dup_groups

    def size_kind_groups(spark, sf):
        # A1 first stage: size/kind collision groups (the lazy-sampling
        # pre-filter; testdata has no full exact dups, this stage has rows)
        docs = _read(spark, sf, "documents")
        return (
            docs.groupBy(
                F.col("n_chars").alias("size"),
                F.coalesce("lang", F.lit("unknown")).alias("kind"),
            )
            .agg(F.count(F.lit(1)).alias("n_members"))
            .filter(F.col("n_members") > 1)
        )

    q["size_kind_groups"] = size_kind_groups

    def top_dup_groups(spark, sf):
        return (
            exact_dup_groups(spark, sf)
            .orderBy(F.desc("n_dups"), "text_hash")
            .limit(10)
        )

    q["top_dup_groups"] = top_dup_groups

    def token_freq(spark, sf):
        docs = _read(spark, sf, "documents")
        return (
            docs.select(F.explode(F.split("text", " ")).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("freq"))
        )

    q["token_freq"] = token_freq

    def ngram_jaccard_pairs(spark, sf):
        # Token-set Jaccard >= 0.9 pairs via PREFIX FILTERING (Chaudhuri et
        # al., exact — no false negatives): with both token sets ordered by
        # global (df, token), J(A,B) >= t forces a shared token within each
        # side's floor((1-t)*n)+1 rarest tokens. The candidate join touches
        # only those prefixes, so a hot token never fans out to O(df^2)
        # pairs; the exact intersection is verified with array_intersect on
        # the collected per-doc sets (bounded-length docs). Output is
        # byte-identical to the naive all-shared-tokens self-join the
        # DuckDB oracle runs.
        docs = _read(spark, sf, "documents")
        tok = docs.select(
            "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("token")
        )
        dfreq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
        wr = W.partitionBy("doc_id").orderBy("df", "token")
        wn = W.partitionBy("doc_id")
        ranked = (
            tok.join(dfreq, "token")
            .withColumn("rk", F.row_number().over(wr))
            .withColumn("n", F.count(F.lit(1)).over(wn))
        )
        prefix = ranked.filter(
            F.col("rk") <= F.floor(F.col("n") / 10) + 1  # t = 0.9
        ).select("doc_id", "token")
        cand = (
            prefix.select(F.col("doc_id").alias("id_a"), "token")
            .join(prefix.select(F.col("doc_id").alias("id_b"), "token"), "token")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
        sets = tok.groupBy("doc_id").agg(
            F.sort_array(F.collect_set("token")).alias("toks"),
            F.count(F.lit(1)).alias("n"),
        )
        sa = sets.select(
            F.col("doc_id").alias("id_a"), F.col("toks").alias("toks_a"),
            F.col("n").alias("na"),
        )
        sb = sets.select(
            F.col("doc_id").alias("id_b"), F.col("toks").alias("toks_b"),
            F.col("n").alias("nb"),
        )
        return (
            cand.join(sa, "id_a")
            .join(sb, "id_b")
            .withColumn(
                "n_inter", F.size(F.array_intersect("toks_a", "toks_b")).cast("long")
            )
            .withColumn("n_union", F.col("na") + F.col("nb") - F.col("n_inter"))
            .filter(F.col("n_inter") * 10 >= F.col("n_union") * 9)
            .select("id_a", "id_b", "n_inter", "n_union")
        )

    q["ngram_jaccard_pairs"] = ngram_jaccard_pairs

    def cluster_avg_sim(spark, sf):
        # A5 cluster stats DRIVER-GATED (dupes.rs:186-216,286-295 union-
        # time (sum, count) accounting): connected components + per-
        # cluster edge stats over the SQL-replayable jaccard edge set.
        # Edge weights are micro-scaled to integer-valued doubles
        # (round(1e6 * n_inter / n_union)) so the per-cluster sum is
        # exact in IEEE doubles and order-independent; the output column
        # is the integer sim SUM (avg = sum / n_edges / 1e6), keeping
        # floats out of the hashed columns.
        from refine_spark.cluster import cluster_stats, connected_components

        e = ngram_jaccard_pairs(spark, sf).select(
            F.col("id_a").cast("string").alias("src"),
            F.col("id_b").cast("string").alias("dst"),
            F.round(F.lit(1e6) * F.col("n_inter") / F.col("n_union"), 0).alias("sim"),
        )
        e = e.localCheckpoint(eager=True)  # edges feed CC and the stats join
        labels = connected_components(e)
        stats = cluster_stats(e, labels)
        return stats.select(
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.col("cluster_size").cast("long").alias("cluster_size"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.round(F.col("avg_sim") * F.col("n_edges"), 0)
            .cast("long")
            .alias("sim_sum_micro"),
        )

    q["cluster_avg_sim"] = cluster_avg_sim

    def minhash_clusters(spark, sf):
        # MinHash -> LSH banding -> signature-verified edges -> connected
        # components, over the seeded synthetic corpus. Oracle: the
        # generator's PLANTED clustering for the families MinHash is
        # responsible for (exact + near_text) — cluster_id must equal the
        # min url of the planted cluster, i.e. the engine must reproduce
        # the planted partition exactly (no missed links, no false merges).
        _ensure_workers_can_import(spark)
        docs, _ = synth.to_spark(spark, n_docs=500)
        # materialize the signatures once: banding and both verify joins
        # read them, and unmaterialized each would re-run the signature UDF
        signed = with_signatures(docs.select("url", "text")).localCheckpoint(eager=True)
        from refine_spark.pipeline import minhash_edges

        edges = minhash_edges(signed)
        return connected_components(edges)

    q["minhash_clusters"] = minhash_clusters

    def simhash_fingerprints(spark, sf):
        # bit-parity gate: DuckDB recomputes the md5-based 60-bit
        # shingle-SimHash exactly (see signatures.token_hash60)
        docs = spread_small(_read(spark, sf, "documents").select("doc_id", "text"))
        sh = make_simhash_udf()
        return docs.select("doc_id", sh(F.col("text")).alias("simhash"))

    q["simhash_fingerprints"] = simhash_fingerprints

    def simhash_hamming_pairs(spark, sf):
        # the simhash candidate pass itself: bit-sliced band join +
        # hamming verify; oracle recomputes fingerprints and brute-forces
        # the hamming ball (banding guarantee: hamming<=3 always shares a
        # 15-bit band, so the outputs must be identical)
        docs = _docs_as_pipeline_input(_read(spark, sf, "documents"))
        sh = make_simhash_udf()
        # spread the narrow (url, text) projection before the per-doc
        # signature kernel: the few-MB documents scan is one partition,
        # which would serialize the whole UDF stage on one core. Then
        # materialize the (url, simhash) frame ONCE — simhash_edges
        # references it from several subplans (intra/cross expansion +
        # banding), and without the checkpoint the plan re-ran the
        # ArrowEvalPython kernel per subplan (12 scans in the r5 plan).
        signed = (
            spread_small(docs.select("url", "text"))
            .select("url", sh(F.col("text")).alias("simhash"))
            .localCheckpoint(eager=True)
        )
        return simhash_edges(signed).select("src", "dst")

    q["simhash_hamming_pairs"] = simhash_hamming_pairs

    def substring_pairs(spark, sf):
        # winnowing fingerprints -> bucket join -> exact LCS verify; the
        # winnowing guarantee (w + n - 1 <= min_substring) makes this
        # exactly the set of pairs sharing a >=48-char substring, which
        # the oracle recomputes first-principles (grid q-gram prefilter +
        # exhaustive containment check). The EDGE SET depends only on
        # min_substring, so the (n, w) split is a free performance knob:
        # 24-grams (n=24, w=25, 24+25-1=48) are ~20x rarer than round-2's
        # 16-grams on tiny-vocab corpora — candidate pair mass drops from
        # 188k to ~8k at sf0.1 and the hot-bucket pathology disappears
        # (SCALE.md round-2 item; re-included in the bench wall).
        docs = _docs_as_pipeline_input(_read(spark, sf, "documents"))
        cfg = DedupConfig(min_substring=48, winnow_ngram=24, winnow_window=25)
        return substring_edges(docs, cfg).select("src", "dst")

    q["substring_pairs"] = substring_pairs

    def dedup_pipeline_synth(spark, sf):
        # full pipeline (exact + text + simhash + name + substring +
        # global CC) over the seeded synthetic corpus; oracle = the
        # generator's planted partition across ALL families (sequential
        # families excluded by the detector), cluster_id = min url
        _ensure_workers_can_import(spark)
        docs, _ = synth.to_spark(spark, n_docs=200)
        return run_dedup(spark, docs)["clusters"].select("url", "cluster_id")

    q["dedup_pipeline_synth"] = dedup_pipeline_synth

    # ---- embeddings family -------------------------------------------

    def embedding_cosine_pairs(spark, sf):
        emb = _read(spark, sf, "embeddings")
        return cosine_dup_pairs(emb, threshold=0.45)

    q["embedding_cosine_pairs"] = embedding_cosine_pairs

    def ann_topk(spark, sf):
        emb = _read(spark, sf, "embeddings")
        queries_df = emb.filter(F.col("vec_id") < 3)
        return brute_force_topk(emb, queries_df, k=5).select(
            "query_id", "vec_id", F.col("rank").cast("long").alias("rank")
        )

    q["ann_topk"] = ann_topk

    def lsh_ann_topk(spark, sf):
        # the APPROXIMATE path, correctness-gated: md5-derived Rademacher
        # hyperplanes (simsearch.rademacher_planes) make the bucketing
        # reproducible in SQL, so the oracle replays bucket assignment,
        # hamming<=2 multi-probe, and the exact-cosine rerank bit-for-bit.
        emb = _read(spark, sf, "embeddings").withColumn(
            "embedding", F.transform("embedding", lambda x: x.cast("double"))
        )
        queries_df = emb.filter(F.col("vec_id") < 3)
        return lsh_topk(
            emb, queries_df, dim=64, k=5, n_planes=10, probe_radius=2
        ).select("query_id", "vec_id", F.col("rank").cast("long").alias("rank"))

    q["lsh_ann_topk"] = lsh_ann_topk

    # ---- text analysis -------------------------------------------------

    def lang_id_counts(spark, sf):
        docs = _read(spark, sf, "documents")
        return (
            docs.select(lang_id(F.col("text")).alias("lang_pred"))
            .groupBy("lang_pred")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    q["lang_id_counts"] = lang_id_counts

    def text_metrics(spark, sf):
        # token counting (whitespace + BPE-ish units) and quality scoring
        # fused into one per-doc scan: same row grain, and the driver
        # correctness gate covers at most 50 queries — the round-4/5
        # merge frees the slots that kept levenshtein_pairs and
        # orphan_parts regression-ungated for two rounds
        docs = _read(spark, sf, "documents")
        stats = quality_stats(F.col("text"))
        return docs.select(
            "doc_id",
            token_count(F.col("text")).cast("long").alias("n_tokens"),
            bpe_ish_count(F.col("text")).cast("long").alias("n_units"),
            *[
                c.cast("long").alias(k)
                for k, c in stats.items()
                if k != "n_tokens"
            ],
        )

    q["text_metrics"] = text_metrics

    def fingerprints(spark, sf):
        docs = _read(spark, sf, "documents")
        return docs.select("doc_id", doc_fingerprint(F.col("text")).alias("fp"))

    q["fingerprints"] = fingerprints

    def clean_names(spark, sf):
        docs = _read(spark, sf, "documents")
        cleaned, _ = cleaned_name_cols(F.col("text"))
        return docs.select("doc_id", cleaned.alias("cleaned"))

    q["clean_names"] = clean_names

    def kind_classes(spark, sf):
        # P5 media-kind classification (dupes.rs:559-585) over synthetic
        # extensions derived deterministically from doc_id
        docs = _read(spark, sf, "documents")
        exts = F.array(*[F.lit(e) for e in _KIND_EXTS])
        ext = F.element_at(exts, (F.col("doc_id") % len(_KIND_EXTS) + 1).cast("int"))
        return docs.select(
            "doc_id", ext.alias("ext"), classify_kind(ext).alias("kind")
        )

    q["kind_classes"] = kind_classes

    def naming_rules(spark, sf):
        # N1-N7 rule chain (naming.rs:44-118): strip-exact + replace +
        # throw over release-style names built from p_name; RE2-safe
        # patterns so DuckDB replays the same rewrite chain
        part = _read(spark, sf, "part")
        name = F.concat(
            F.lower(F.regexp_replace("p_name", " ", ".")),
            F.when(F.col("p_partkey") % 3 == 0, F.lit(".720p")).otherwise(F.lit("")),
            F.when(F.col("p_partkey") % 4 == 0, F.lit(".x264")).otherwise(F.lit("")),
        )
        rules = compile_rules(
            strip_exact=["720p", "x264"],
            replace=[("almond", "amande")],
        )
        named = part.select("p_partkey", name.alias("new_name"))
        return apply_naming(named, rules).select(
            "p_partkey", "new_name", F.col("blocked").cast("long").alias("blocked")
        )

    q["naming_rules"] = naming_rules

    def sample_hashes(spark, sf):
        # S6 3-point byte sample (dupes.rs:460-501) at sample_bytes=96 so
        # both branches (whole content vs 3-slice concat) are exercised;
        # the oracle recomputes the same slices + sha256 over the text
        docs = _read(spark, sf, "documents")
        html = F.encode("text", "UTF-8")
        return docs.select(
            "doc_id", F.sha2(three_point_sample(html, 96), 256).alias("sample_hash")
        )

    q["sample_hashes"] = sample_hashes

    def rebuild_plan_full(spark, sf):
        # A6+W1+W2+W3 composed: collection grammar -> group -> ordered
        # renumber -> representative election -> `{base}~{seq}{comment}.{ext}`
        # (rebuild.rs:113-172), over synthetic collection stems
        from refine_spark.rebuild import rebuild_plan

        part = _read(spark, sf, "part")
        g = (F.col("p_partkey") % 15).cast("string")
        comment = F.when(F.col("p_partkey") % 5 == 0, F.lit(" rem")).otherwise(
            F.lit("")
        )
        stem = F.concat(
            F.lit("coll"), g, F.lit("~"), F.col("p_partkey").cast("string"), comment
        )
        df = part.select(
            F.concat(F.lit("doc://x/"), stem, F.lit(".mp4")).alias("url"),
            F.concat(stem, F.lit(".mp4")).alias("name"),
            stem.alias("stem"),
            F.lit("mp4").alias("ext"),
            F.timestamp_seconds(F.col("p_partkey") * 100).alias("warc_ts"),
        )
        return rebuild_plan(df).select(
            "url", "new_name", "new_seq",
            F.col("changed").cast("long").alias("changed"),
        )

    q["rebuild_plan_full"] = rebuild_plan_full

    def rename_plan_clashes(spark, sf):
        # A8+W4 composed: strip-digits rule -> per-(parent, new_name)
        # clash groups -> sequence resolution on changed rows
        # (rename.rs:62-96), over synthetic clashing stems
        from refine_spark.naming import compile_rules
        from refine_spark.rename_join import rename_plan

        part = _read(spark, sf, "part")
        parent_leaf = F.concat(F.lit("d"), (F.col("p_partkey") % 4).cast("string"))
        stem = F.when(F.col("p_partkey") % 8 == 0, F.lit("file")).otherwise(
            F.concat(F.lit("file"), (F.col("p_partkey") % 8).cast("string"))
        )
        df = part.select(
            F.concat(
                F.lit("doc://h/"), parent_leaf, F.lit("/"), stem, F.lit(".mp4")
            ).alias("url"),
            F.concat(stem, F.lit(".mp4")).alias("name"),
            stem.alias("stem"),
            F.lit("mp4").alias("ext"),
        )
        rules = compile_rules(replace=[("[0-9]+$", "")])
        plan = rename_plan(df, rules=rules, clashes="sequence")
        return plan.select(
            "url", "new_name",
            F.col("changed").cast("long").alias("changed"),
            F.col("clash").cast("long").alias("clash"),
        )

    q["rename_plan_clashes"] = rename_plan_clashes

    def _join_plan_df(spark, sf):
        from refine_spark.rename_join import join_plan

        docs = _read(spark, sf, "documents")
        k = (F.col("doc_id") % 6).cast("string")
        src = docs.select(
            F.concat(F.lit("doc://h/"), "source", F.lit("/f"), k, F.lit(".mp4")).alias("url"),
            F.concat(F.lit("f"), k, F.lit(".mp4")).alias("name"),
            F.concat(F.lit("f"), k).alias("stem"),
            F.lit("mp4").alias("ext"),
        ).dropDuplicates(["url"])
        kt = (F.col("doc_id") % 4).cast("string")
        target = (
            docs.filter(F.col("doc_id") < 40)
            .select(
                F.concat(F.lit("doc://h/t/f"), kt, F.lit(".mp4")).alias("url"),
                F.concat(F.lit("f"), kt, F.lit(".mp4")).alias("name"),
                F.concat(F.lit("f"), kt).alias("stem"),
                F.lit("mp4").alias("ext"),
            )
            .dropDuplicates(["url"])
        )
        return join_plan(src, target, "doc://h/t", clashes="parent_name")

    def join_plan_parent_name(spark, sf):
        # J4 outer-clash union + O7 provenance + parent-name resolution
        # (join.rs:97-135), fully window/concat — SQL-replayable
        plan = _join_plan_df(spark, sf)
        return plan.select(
            "url", "name", "new_name", "origin",
            F.col("in_place").cast("long").alias("in_place"),
            F.col("clash").cast("long").alias("clash"),
        )

    q["join_plan_parent_name"] = join_plan_parent_name

    def join_receipts(spark, sf):
        # A12 receipt over the same plan (join.rs:172-180 accounting)
        from refine_spark.rename_join import join_receipt

        return join_receipt(_join_plan_df(spark, sf)).select(
            "total", "clashes", F.col("in_place").cast("long").alias("in_place")
        )

    q["join_receipts"] = join_receipts

    def join_plan_name_sequence(spark, sf):
        # J6/W5 name-sequence strategy (join.rs:126-135): the shared
        # per-group counter skips names taken in the target — the k-th
        # renamed member gets the k-th FREE integer >= 2 (order
        # statistic, closed form, no retry bound). The planted target
        # names f{k}-{2..8}.mp4 are a 7-long consecutive taken run, so
        # renamed members of groups f0..f3 must start at 9.
        from refine_spark.rename_join import join_plan

        docs = _read(spark, sf, "documents")
        k = (F.col("doc_id") % 6).cast("string")
        src = docs.select(
            F.concat(F.lit("doc://h/"), "source", F.lit("/f"), k, F.lit(".mp4")).alias("url"),
            F.concat(F.lit("f"), k, F.lit(".mp4")).alias("name"),
            F.concat(F.lit("f"), k).alias("stem"),
            F.lit("mp4").alias("ext"),
        ).dropDuplicates(["url"])
        kt = (F.col("doc_id") % 4).cast("string")
        plain = docs.filter(F.col("doc_id") < 40).select(
            F.concat(F.lit("doc://h/t/f"), kt, F.lit(".mp4")).alias("url"),
            F.concat(F.lit("f"), kt, F.lit(".mp4")).alias("name"),
            F.concat(F.lit("f"), kt).alias("stem"),
            F.lit("mp4").alias("ext"),
        ).dropDuplicates(["url"])
        seqi = (F.col("doc_id") % 7 + 2).cast("string")
        planted = docs.filter(F.col("doc_id") < 80).select(
            F.concat(F.lit("doc://h/t/f"), kt, F.lit("-"), seqi, F.lit(".mp4")).alias("url"),
            F.concat(F.lit("f"), kt, F.lit("-"), seqi, F.lit(".mp4")).alias("name"),
            F.concat(F.lit("f"), kt, F.lit("-"), seqi).alias("stem"),
            F.lit("mp4").alias("ext"),
        ).dropDuplicates(["url"])
        plan = join_plan(
            src, plain.unionByName(planted), "doc://h/t", clashes="name_sequence"
        )
        return plan.select(
            "url", "name", "new_name", "origin",
            F.col("in_place").cast("long").alias("in_place"),
            F.col("clash").cast("long").alias("clash"),
        )

    q["join_plan_name_sequence"] = join_plan_name_sequence

    def traversal_universe(spark, sf):
        # S3 dir-row universe, DirsAndContent mode (rename.rs:48) over a
        # constructed 2-level tree with hidden dirs and hidden leaves
        from refine_spark.universe import entry_universe

        docs = _read(spark, sf, "documents")
        seg1 = F.when(
            F.col("source") == "src1", F.concat(F.lit(".h-"), "source")
        ).otherwise(F.col("source"))
        seg2 = F.concat(F.lit("d"), (F.col("doc_id") % 7).cast("string"))
        leaf = F.concat(
            F.when(F.col("doc_id") % 11 == 0, F.lit(".p")).otherwise(F.lit("p")),
            F.col("doc_id").cast("string"),
            F.lit(".html"),
        )
        tree = docs.select(
            F.concat(
                F.lit("http://w/"), seg1, F.lit("/"), seg2, F.lit("/"), leaf
            ).alias("url")
        )
        out = entry_universe(tree, "dirs_and_content")
        return out.select(
            "path", "name",
            F.col("is_dir").cast("long").alias("is_dir"),
            F.col("level").cast("long").alias("level"),
        )

    q["traversal_universe"] = traversal_universe

    def empty_parents_q(spark, sf):
        # S10: prefixes emptied by dropping one source subtree
        from refine_spark.apply import empty_parents

        docs = _read(spark, sf, "documents")
        url = F.concat(
            F.lit("http://w/"), "source", F.lit("/d"),
            (F.col("doc_id") % 7).cast("string"), F.lit("/p"),
            F.col("doc_id").cast("string"), F.lit(".html"),
        )
        before = docs.select(url.alias("url"))
        after = docs.filter(F.col("source") != "src1").select(url.alias("url"))
        return empty_parents(before, after).select(
            "path", F.col("level").cast("long").alias("level")
        )

    q["empty_parents_q"] = empty_parents_q

    def root_validation(spark, sf):
        # S4/O5 input-root validation (input.rs:63-99): sort + exact-
        # duplicate drop with a dropped-count receipt, computed IN SPARK
        # (distinct + count aggregates) — the root list is tiny by
        # construction (sources x 3), but the candidate rows derive from
        # the whole documents table, so collecting them first would be an
        # unbounded O(corpus) driver transfer. validate_roots() remains
        # the CLI-argument-sized driver path (pytest-covered).
        docs = _read(spark, sf, "documents")
        p = docs.select(
            F.concat(
                F.lit("/crawl/"), "source", F.lit("/d"),
                (F.col("doc_id") % 3).cast("string"),
            ).alias("root")
        )
        dropped = p.agg(
            (F.count(F.lit(1)) - F.count_distinct("root")).alias("n_dropped")
        )
        # the distinct-root frame is rank-windowed over its (tiny) whole
        # extent — the same sorted order validate_roots produces
        return (
            p.distinct()
            .withColumn(
                "rank", F.row_number().over(W.orderBy("root")).cast("long")
            )
            .crossJoin(F.broadcast(dropped))
            .select("root", "rank", "n_dropped")
        )

    q["root_validation"] = root_validation

    def apply_dir_renames(spark, sf):
        # S9/O4 apply with DIRECTORY rows (rename.rs deepest-first apply
        # order, collapsed declaratively: each ancestor segment maps by
        # its ORIGINAL prefix — apply.apply_rename_with_dirs). Every
        # even-k directory dK renames to dKx and every doc_id%5==0 leaf
        # p{id}.html -> q{id}.html; the oracle reconstructs the rewritten
        # url from first principles.
        from refine_spark.apply import apply_rename_with_dirs

        docs = _read(spark, sf, "documents")
        k = (F.col("doc_id") % 7).cast("string")
        url = F.concat(
            F.lit("doc://h/"), "source", F.lit("/d"), k, F.lit("/p"),
            F.col("doc_id").cast("string"), F.lit(".html"),
        )
        files = docs.select(url.alias("url")).withColumn("orig", F.col("url"))
        dirs = (
            docs.select("source", (F.col("doc_id") % 7).alias("k"))
            .distinct()
            .filter(F.col("k") % 2 == 0)
        )
        ks = F.col("k").cast("string")
        dir_plan = dirs.select(
            F.concat(F.lit("h/"), "source", F.lit("/d"), ks).alias("url"),
            F.concat(F.lit("d"), ks).alias("name"),
            F.concat(F.lit("d"), ks, F.lit("x")).alias("new_name"),
            F.lit(True).alias("changed"),
            F.lit(False).alias("blocked"),
            F.lit(True).alias("is_dir"),
        )
        file_plan = docs.filter(F.col("doc_id") % 5 == 0).select(
            url.alias("url"),
            F.concat(F.lit("p"), F.col("doc_id").cast("string"), F.lit(".html")).alias("name"),
            F.concat(F.lit("q"), F.col("doc_id").cast("string"), F.lit(".html")).alias("new_name"),
            F.lit(True).alias("changed"),
            F.lit(False).alias("blocked"),
            F.lit(False).alias("is_dir"),
        )
        out = apply_rename_with_dirs(files, dir_plan.unionByName(file_plan))
        return out.select(
            F.col("orig").alias("old_url"), F.col("url").alias("new_url")
        )

    q["apply_dir_renames"] = apply_dir_renames

    def list_by_count(spark, sf):
        # O2 By::Count (list.rs:45-50,78-83): per-dir size/count
        # aggregates ordered count-desc with natural-path secondary;
        # rank materialized so the oracle compares the ORDER, not just
        # the rows
        from refine_spark.listing import dir_totals

        docs = _read(spark, sf, "documents")
        url = F.concat(
            F.lit("http://w/"), "source", F.lit("/d"),
            (F.col("doc_id") % 7).cast("string"), F.lit("/p"),
            F.col("doc_id").cast("string"), F.lit(".html"),
        )
        files = docs.select(url.alias("url"), F.col("n_chars").alias("size"))
        dirs = dir_totals(files).select(
            F.col("dir").alias("url"),
            F.element_at(F.split("dir", "/"), -1).alias("name"),
            F.col("total_size").alias("size"),
            F.col("n_files").alias("count"),
        )
        # materialize list_plan's OUTPUT ORDER (count desc, natural path,
        # url) as a rank column — derived from the ordering KEYS directly
        # (round-2 used monotonically_increasing_id over the sorted
        # output, an undocumented planner property, plus a single-task
        # global window). Bucket-stitch: row_number within each distinct
        # count (parallel) + a cumulative offset over the tiny per-count
        # aggregate; only the offset window is serial, over one row per
        # distinct count.
        from refine_spark.listing import natural_key

        keyed = dirs.withColumn("_nk", natural_key(F.col("url")))
        wb = W.partitionBy("count").orderBy("_nk", "url")
        inner = keyed.withColumn("_rn", F.row_number().over(wb))
        offsets = (
            keyed.groupBy("count")
            .agg(F.count(F.lit(1)).alias("_n"))
            .withColumn(
                "_off",
                F.coalesce(
                    F.sum("_n").over(
                        W.orderBy(F.desc_nulls_last("count")).rowsBetween(
                            W.unboundedPreceding, -1
                        )
                    ),
                    F.lit(0),
                ),
            )
            .select("count", "_off")
        )
        return inner.join(offsets, "count").select(
            "url",
            F.col("count").cast("long").alias("count"),
            F.col("size").cast("long").alias("size"),
            (F.col("_off") + F.col("_rn")).cast("long").alias("rank"),
        )

    q["list_by_count"] = list_by_count

    def quarantine_counts(spark, sf):
        # S5 malformed-row side channel (commands.rs:102-115 analog):
        # rows failing the validity predicate split to quarantine; the
        # receipt is (n_ok, n_bad)
        from refine_spark.apply import quarantine_split

        docs = _read(spark, sf, "documents")
        ok_pred = F.col("lang").isNotNull() & (F.col("n_chars") >= 60)
        ok, bad = quarantine_split(docs, ok_pred)
        return ok.agg(F.count(F.lit(1)).alias("n_ok")).crossJoin(
            bad.agg(F.count(F.lit(1)).alias("n_bad"))
        )

    q["quarantine_counts"] = quarantine_counts

    def old_style_migration(spark, sf):
        # P7 old-style `name-9` migration predicate (rebuild.rs:77-100)
        from refine_spark.scan import old_style_parts

        part = _read(spark, sf, "part")
        stem = F.when(
            F.col("p_partkey") % 3 == 0,
            F.concat(
                F.regexp_replace("p_name", " ", "_"), F.lit("-"),
                (F.col("p_partkey") % 12).cast("string"),
            ),
        ).otherwise(F.regexp_replace("p_name", " ", "_"))
        parts = old_style_parts(stem)
        return part.select(
            "p_partkey",
            parts["is_old_style"].cast("long").alias("is_old_style"),
            parts["base"].alias("base"),
            parts["seq"].alias("seq"),
        )

    q["old_style_migration"] = old_style_migration

    def sequential_groups(spark, sf):
        # A7 sequential-group detector (dupes.rs:332-405) over synthetic
        # name groups with three planted behaviors: no-numbers groups
        # (not sequential), varying-episode groups (sequential), and
        # constant-number groups (not sequential). The oracle replays
        # the detector's exact arithmetic in SQL.
        from refine_spark.cluster import sequential_cluster_ids

        part = _read(spark, sf, "part")
        g = F.col("p_partkey") % 30
        name = (
            F.when(g % 3 == 0, F.col("p_name"))
            .when(
                g % 3 == 1,
                F.concat(F.lit("show ep "), (F.col("p_partkey") % 7).cast("string")),
            )
            .otherwise(F.concat(F.lit("fixed 42 "), F.col("p_name")))
        )
        labels = part.select(
            F.col("p_partkey").cast("string").alias("url"),
            g.cast("string").alias("cluster_id"),
        )
        named = part.select(
            F.col("p_partkey").cast("string").alias("url"),
            name.alias("cleaned_name"),
        )
        return sequential_cluster_ids(labels, named)

    q["sequential_groups"] = sequential_groups

    def probe_dedup_names(spark, sf):
        # A11 probe name dedup (probe.rs:105-107): distinct canonical
        # names after collection-grammar sequence stripping
        part = _read(spark, sf, "part")
        slug = F.concat(
            F.lower(F.regexp_replace("p_name", " ", "_")),
            F.lit("~"),
            (F.col("p_partkey") % 40).cast("string"),
        )
        stems = part.select(slug.alias("stem"))
        return deduped_names(stems)

    q["probe_dedup_names"] = probe_dedup_names

    def probe_backoff(spark, sf):
        # S8 probe retry/backoff state machine (probe.rs:161-206) as pure
        # data: a deterministic injected client maps name class k%5 to a
        # fixed status script (200 / 403 / 404 / 503-then-200 / always-
        # raise), and the traced loop emits (verdict, n_attempts,
        # waited_ms) per name — 200,403->valid, 404->invalid, retries
        # wait min(wait*2, max) starting at 1000ms, fail after
        # retries=2. The oracle replays every transition arithmetically.
        from refine_spark.probe import probe_names

        docs = _read(spark, sf, "documents")
        names = (
            docs.select((F.col("doc_id") % 50).alias("k"))
            .distinct()
            .select(F.concat(F.lit("n"), F.col("k").cast("string")).alias("name"))
        )

        calls: dict[str, int] = {}  # per-worker: each name probed once

        def prober(name: str) -> int:
            a = calls.get(name, 0) + 1
            calls[name] = a
            m = int(name[1:]) % 5
            if m == 0:
                return 200
            if m == 1:
                return 403
            if m == 2:
                return 404
            if m == 3:
                return 503 if a == 1 else 200  # transient outage
            raise TimeoutError("transport error")  # m == 4: hard-down host

        return probe_names(
            names, prober, max_retries=2, sleeper=lambda s: None, trace=True
        )

    q["probe_backoff"] = probe_backoff

    # ---- scan / filter / grammar ----------------------------------------

    def fetch_filter(spark, sf):
        docs = _read(spark, sf, "documents")
        return docs.filter(
            F.col("text").rlike("(?i)spark") & ~F.col("source").rlike("(?i)^src1$")
        ).select("doc_id")

    q["fetch_filter"] = fetch_filter

    def collection_grammar(spark, sf):
        part = _read(spark, sf, "part")
        slug = F.concat(
            F.lower(F.regexp_replace("p_name", " ", "_")),
            F.lit("~"),
            (F.col("p_partkey") % 40).cast("string"),
        )
        parts = collection_parts(slug)
        return part.select(
            "p_partkey",
            parts["canonical"].alias("canonical"),
            parts["seq"].alias("seq"),
        )

    q["collection_grammar"] = collection_grammar

    def natural_keys(spark, sf):
        part = _read(spark, sf, "part")
        return part.select("p_partkey", natural_key(F.col("p_name")).alias("nat_key"))

    q["natural_keys"] = natural_keys

    # ---- grouping / window / join operators ------------------------------

    def source_totals(spark, sf):
        docs = _read(spark, sf, "documents")
        return docs.groupBy("source").agg(
            F.sum("n_chars").alias("total_chars"), F.count(F.lit(1)).alias("n_docs")
        )

    q["source_totals"] = source_totals

    def window_seq(spark, sf):
        orders = _read(spark, sf, "orders")
        w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        return orders.select(
            "o_custkey", "o_orderkey", F.row_number().over(w).cast("long").alias("seq")
        )

    q["window_seq"] = window_seq

    def rep_election(spark, sf):
        orders = _read(spark, sf, "orders")
        return orders.groupBy("o_custkey").agg(
            F.max_by(
                "o_orderkey", F.struct("o_totalprice", "o_orderkey")
            ).alias("rep_order")
        )

    q["rep_election"] = rep_election

    def clash_seq(spark, sf):
        part = _read(spark, sf, "part")
        w = W.partitionBy("p_brand").orderBy("p_partkey")
        return part.select("p_partkey", "p_brand", F.row_number().over(w).cast("long").alias("rn"))

    q["clash_seq"] = clash_seq

    def clash_groups(spark, sf):
        docs = _read(spark, sf, "documents")
        name = F.concat(F.lit("doc-"), (F.col("doc_id") % 25).cast("string"))
        return (
            docs.select("source", name.alias("name"))
            .groupBy("source", "name")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
        )

    q["clash_groups"] = clash_groups

    def events_user_stats(spark, sf):
        events = _read(spark, sf, "events")
        return events.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
                "n_errors"
            ),
        )

    q["events_user_stats"] = events_user_stats

    def events_sessionize(spark, sf):
        # gap-based sessionization (30-min gap): lag + running sum, one
        # shuffle for both window passes
        from refine_spark.analysis import sessionize

        events = _read(spark, sf, "events")
        # user_event_seq (the former standalone events_session_seq query,
        # merged r5 to free a driver-gate slot) partitions on the same key
        # as the session windows — no extra shuffle, one more sort-free
        # WindowExec pass over the already-partitioned frame
        w = W.partitionBy("user_id").orderBy("ts", "event_id")
        return sessionize(events).select(
            "user_id",
            "event_id",
            "session_seq",
            "session_event_seq",
            F.row_number().over(w).cast("long").alias("user_event_seq"),
        )

    q["events_sessionize"] = events_sessionize

    def tpch_pricing(spark, sf):
        li = _read(spark, sf, "lineitem")
        return li.groupBy("l_returnflag", "l_linestatus").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("l_quantity").cast("long").alias("sum_qty"),
        )

    q["tpch_pricing"] = tpch_pricing

    def segment_join(spark, sf):
        orders = _read(spark, sf, "orders")
        cust = _read(spark, sf, "customer")
        return (
            orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.countDistinct("o_custkey").alias("n_cust"),
            )
        )

    q["segment_join"] = segment_join

    def orphan_parts(spark, sf):
        part = _read(spark, sf, "part")
        li = _read(spark, sf, "lineitem")
        orphans = part.join(
            li.select(F.col("l_partkey").alias("p_partkey")).distinct(),
            "p_partkey",
            "left_anti",
        )
        return orphans.agg(F.count(F.lit(1)).alias("n_orphans"))

    q["orphan_parts"] = orphan_parts

    def levenshtein_pairs(spark, sf):
        # lead() over a GLOBAL key order without a single-task global sort:
        # bucket the key space, lead within each bucket in parallel, then
        # stitch bucket boundaries through a tiny per-bucket aggregate
        # (first/last row of each bucket; the row after bucket b's last is
        # the next non-empty bucket's first). Output identical to the
        # global-window oracle.
        part = _read(spark, sf, "part")
        bucketed = part.select(
            "p_partkey", "p_name", (F.col("p_partkey") / 512).cast("long").alias("bkt")
        )
        wb = W.partitionBy("bkt").orderBy("p_partkey")
        inner = bucketed.select(
            "p_partkey", "p_name", "bkt", F.lead("p_name").over(wb).alias("next_name")
        )
        edges = bucketed.groupBy("bkt").agg(
            F.max_by("p_name", "p_partkey").alias("last_name"),
            F.max("p_partkey").alias("last_pk"),
            F.min_by("p_name", "p_partkey").alias("first_name"),
        )
        wnext = W.orderBy("bkt")  # tiny frame: one row per bucket
        boundary = (
            edges.select(
                "bkt", "last_pk", "last_name",
                F.lead("first_name").over(wnext).alias("next_name"),
            )
            .filter(F.col("next_name").isNotNull())
            .select(
                F.col("last_pk").alias("p_partkey"),
                F.col("last_name").alias("p_name"),
                "next_name",
            )
        )
        withnext = inner.filter(F.col("next_name").isNotNull()).select(
            "p_partkey", "p_name", "next_name"
        ).unionByName(boundary)
        return withnext.select(
            "p_partkey", F.levenshtein("p_name", "next_name").cast("long").alias("lev")
        )

    q["levenshtein_pairs"] = levenshtein_pairs

    return q


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect; same aliases as the Spark queries)
# ---------------------------------------------------------------------------


def _planted_clusters_sql(n_docs: int, families: tuple[str, ...] | None) -> str:
    """Golden-truth oracle for the clustering queries: the seeded synthetic
    generator's PLANTED partition, rendered as a VALUES table. The truth
    comes from the generator (refine_spark/synth.py), never from the
    engine, so a regression in any pipeline stage flips the comparison.
    cluster_id = min url of the planted cluster — exactly what the
    min-label connected-components contract produces."""
    truth = synth.gen_documents(n_docs)[1]
    t = truth[truth["cluster_id"].notna()]
    if families is not None:
        t = t[t["family"].isin(families)]
    t = t[t.groupby("cluster_id")["url"].transform("count") > 1]
    rep = t.groupby("cluster_id")["url"].transform("min")
    rows = sorted(zip(t["url"], rep))
    values = ",\n".join(f"('{u}', '{r}')" for u, r in rows)
    return (
        f"SELECT url, cluster_id FROM (VALUES\n{values}\n) AS t(url, cluster_id)"
    )


# md5-based 60-bit shingle SimHash, recomputed from first principles
# (kept in lockstep with refine_spark/signatures.py: token_hash60 +
# _shingle_strings + make_simhash_udf)
# LOCKSTEP (CLAUDE.md): tokenization must replay signatures.
# normalize_for_shingles exactly — ASCII transliteration (clean.
# translit_duckdb == clean._translit_str for Latin/Cyrillic/Greek) before
# lowercasing and [a-z0-9]+ extraction, so non-ASCII graded text cannot
# flip simhash parity.
from refine_spark.clean import translit_duckdb as _translit_duckdb  # noqa: E402

_SIMHASH_CTE = rf"""
toks AS (
  SELECT doc_id, source,
         regexp_extract_all(lower({_translit_duckdb('text')}), '[a-z0-9]+') AS tk
  FROM documents
),
shingled AS (
  SELECT doc_id, source,
    CASE WHEN len(tk) = 0 THEN ['']
         WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
         ELSE list_transform(range(1, len(tk) - 1),
                             i -> array_to_string(tk[i:i+2], ' '))
    END AS shingles
  FROM toks
),
feat AS (
  SELECT doc_id, source, shingle, count(*) AS cnt,
         CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) AS h
  FROM (SELECT doc_id, source, unnest(shingles) AS shingle FROM shingled)
  GROUP BY doc_id, source, shingle
),
bits AS (
  SELECT doc_id, source, b,
         sum(CASE WHEN (h >> b) & 1 = 1 THEN cnt ELSE -cnt END) AS acc
  FROM feat CROSS JOIN (SELECT unnest(range(60)) AS b) bb
  GROUP BY doc_id, source, b
),
simhashes AS (
  SELECT doc_id, source,
         CAST(sum(CASE WHEN acc > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
              AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id, source
)
""".strip()


def _kind_case_sql() -> str:
    """CASE expression generated from the SAME lookup table the Spark
    operator uses (clean._KIND_BY_EXT) — lockstep by construction."""
    by_kind: dict[str, list[str]] = {}
    for ext, kind in _KIND_BY_EXT.items():
        by_kind.setdefault(kind, []).append(ext)
    arms = " ".join(
        f"WHEN ext IN ({', '.join(repr(e) for e in sorted(exts))}) THEN '{kind}'"
        for kind, exts in sorted(by_kind.items())
    )
    return f"CASE {arms} ELSE 'unknown' END"


def _naming_rules_sql(expr: str) -> str:
    """Fold the SAME compiled rule chain the Spark query applies into
    nested DuckDB regexp_replace calls ('g' = replace-all like Spark;
    patterns carry their own (?i) and are RE2-safe by construction)."""
    rules = compile_rules(strip_exact=["720p", "x264"], replace=[("almond", "amande")])
    out = expr
    for pattern, repl in rules:
        p = pattern.replace("'", "''")
        out = f"regexp_replace({out}, '{p}', '{repl}', 'g')"
    return out


def oracle_sql() -> dict[str, str]:
    nat_key = NATURAL_KEY_DUCKDB.format(col="p_name")
    grammar_pat = r"^(\w+)(?:\+(\w+))?~(\d+)(.*)$"
    lang_case = (
        "CASE "
        f"WHEN {_LANG_SQL_HITS['en']} >= {_LANG_SQL_HITS['pt']} "
        f" AND {_LANG_SQL_HITS['en']} >= {_LANG_SQL_HITS['de']} "
        f" AND {_LANG_SQL_HITS['en']} > 0 THEN 'en' "
        f"WHEN {_LANG_SQL_HITS['pt']} >= {_LANG_SQL_HITS['de']} "
        f" AND {_LANG_SQL_HITS['pt']} > 0 THEN 'pt' "
        f"WHEN {_LANG_SQL_HITS['de']} > 0 THEN 'de' "
        "ELSE 'und' END"
    )
    return {
        "exact_dup_groups": """
            SELECT md5(text) AS text_hash, count(*) AS n_dups,
                   min(doc_id) AS rep_id
            FROM documents GROUP BY md5(text) HAVING count(*) > 1
        """,
        "top_dup_groups": """
            SELECT md5(text) AS text_hash, count(*) AS n_dups,
                   min(doc_id) AS rep_id
            FROM documents GROUP BY md5(text) HAVING count(*) > 1
            ORDER BY n_dups DESC, text_hash LIMIT 10
        """,
        "token_freq": """
            SELECT token, count(*) AS freq FROM (
                SELECT unnest(string_split(text, ' ')) AS token FROM documents
            ) GROUP BY token
        """,
        "ngram_jaccard_pairs": """
            WITH tok AS (
                SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
                FROM documents
            ),
            cnt AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
                FROM tok a JOIN tok b USING (token)
                WHERE a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            )
            SELECT id_a, id_b, n_inter, ca.n + cb.n - n_inter AS n_union
            FROM inter
            JOIN cnt ca ON id_a = ca.doc_id
            JOIN cnt cb ON id_b = cb.doc_id
            WHERE n_inter * 10 >= (ca.n + cb.n - n_inter) * 9
        """,
        # A5 avg-sim accounting gate: same jaccard edge set, connected
        # components replayed as a recursive reachability CTE (cluster_id
        # = min reachable vertex id as VARCHAR, the engine's min-label
        # contract), per-cluster (n_edges, exact integer micro-sim sum).
        "cluster_avg_sim": """
            WITH RECURSIVE tok AS (
                SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
                FROM documents
            ),
            cnt AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
                FROM tok a JOIN tok b USING (token)
                WHERE a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            ),
            j AS (
                SELECT id_a, id_b, n_inter,
                       ca.n + cb.n - n_inter AS n_union
                FROM inter
                JOIN cnt ca ON id_a = ca.doc_id
                JOIN cnt cb ON id_b = cb.doc_id
                WHERE n_inter * 10 >= (ca.n + cb.n - n_inter) * 9
            ),
            edges AS (
                SELECT CAST(id_a AS VARCHAR) AS a, CAST(id_b AS VARCHAR) AS b,
                       CAST(round(1e6 * n_inter / n_union) AS BIGINT) AS w
                FROM j
            ),
            nodes AS (SELECT a AS v FROM edges UNION SELECT b FROM edges),
            sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
            reach AS (
                SELECT v, v AS r FROM nodes
                UNION
                SELECT s.a AS v, reach.r AS r
                FROM sym s JOIN reach ON reach.v = s.b
            ),
            labels AS (SELECT v, min(r) AS cluster_id FROM reach GROUP BY v),
            sizes AS (
                SELECT cluster_id, count(*) AS cluster_size
                FROM labels GROUP BY cluster_id
            ),
            estats AS (
                SELECT l.cluster_id, count(*) AS n_edges,
                       sum(e.w) AS sim_sum_micro
                FROM edges e JOIN labels l ON e.a = l.v
                GROUP BY l.cluster_id
            )
            SELECT CAST(s.cluster_id AS BIGINT) AS cluster_id,
                   CAST(s.cluster_size AS BIGINT) AS cluster_size,
                   CAST(n_edges AS BIGINT) AS n_edges,
                   CAST(sim_sum_micro AS BIGINT) AS sim_sum_micro
            FROM sizes s JOIN estats USING (cluster_id)
        """,
        "size_kind_groups": """
            SELECT n_chars AS size, coalesce(lang, 'unknown') AS kind,
                   count(*) AS n_members
            FROM documents GROUP BY n_chars, coalesce(lang, 'unknown')
            HAVING count(*) > 1
        """,
        "minhash_clusters": _planted_clusters_sql(500, ("exact", "near_text")),
        "dedup_pipeline_synth": _planted_clusters_sql(200, None),
        "simhash_fingerprints": f"""
            WITH {_SIMHASH_CTE}
            SELECT doc_id, simhash FROM simhashes
        """,
        "simhash_hamming_pairs": f"""
            WITH {_SIMHASH_CTE},
            u AS (
                SELECT 'doc://' || source || '/' || CAST(doc_id AS VARCHAR)
                           AS url,
                       simhash
                FROM simhashes
            )
            SELECT a.url AS src, b.url AS dst
            FROM u a JOIN u b
              ON a.url < b.url
             AND bit_count(xor(a.simhash, b.simhash)) <= 3
        """,
        "substring_pairs": """
            WITH d AS (
              SELECT 'doc://' || source || '/' || CAST(doc_id AS VARCHAR)
                         AS url,
                     text
              FROM documents WHERE length(text) >= 48
            ),
            all_grams AS (
              SELECT url, unnest(list_transform(range(1, length(text) - 14),
                         i -> substring(text, CAST(i AS INTEGER), 16))) AS g
              FROM d
            ),
            grid_grams AS (
              -- any 48-char shared region fully contains a grid-aligned
              -- 16-gram of the other side, so this join has no false
              -- negatives (q-gram filter)
              SELECT url, unnest(list_transform(
                         range(0, (length(text) - 16) // 16 + 1),
                         i -> substring(text, CAST(i*16 + 1 AS INTEGER), 16)))
                         AS g
              FROM d
            ),
            cand AS (
              SELECT DISTINCT least(a.url, b.url) AS src,
                              greatest(a.url, b.url) AS dst
              FROM (SELECT DISTINCT url, g FROM all_grams) a
              JOIN (SELECT DISTINCT url, g FROM grid_grams) b USING (g)
              WHERE a.url <> b.url
            )
            SELECT src, dst FROM cand
            JOIN d da ON da.url = src JOIN d db ON db.url = dst
            WHERE len(list_filter(range(1, length(da.text) - 46),
                  i -> contains(db.text,
                                substring(da.text, CAST(i AS INTEGER), 48)))) > 0
        """,
        "lsh_ann_topk": """
            WITH signs AS (
              -- md5-derived Rademacher planes, table 0 (simsearch.rademacher_planes)
              SELECT j, d,
                     CASE WHEN CAST(('0x' || substring(md5('0:' || CAST(j AS VARCHAR)
                              || ':' || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT) & 1 = 1
                          THEN 1.0 ELSE -1.0 END AS s
              FROM (SELECT unnest(range(10)) AS j) jj
              CROSS JOIN (SELECT unnest(range(64)) AS d) dd
            ),
            comp AS (
              SELECT vec_id, idx - 1 AS d, CAST(embedding[idx] AS DOUBLE) AS v
              FROM (SELECT vec_id, embedding,
                           unnest(range(1, len(embedding)+1)) AS idx
                    FROM embeddings)
            ),
            proj AS (
              SELECT vec_id, j, sum(s * v) AS p
              FROM comp JOIN signs USING (d) GROUP BY vec_id, j
            ),
            bkt AS (
              SELECT vec_id,
                     CAST(sum(CASE WHEN p > 0 THEN (CAST(1 AS BIGINT) << j)
                              ELSE 0 END) AS BIGINT) AS bucket
              FROM proj GROUP BY vec_id
            ),
            cand AS (
              -- hamming<=2 multi-probe ball + exact-cosine rerank
              SELECT q.vec_id AS query_id, c.vec_id,
                     list_cosine_similarity(qe.embedding, ce.embedding) AS cos
              FROM bkt q
              JOIN bkt c ON bit_count(xor(q.bucket, c.bucket)) <= 2
                        AND q.vec_id <> c.vec_id
              JOIN embeddings qe ON qe.vec_id = q.vec_id
              JOIN embeddings ce ON ce.vec_id = c.vec_id
              WHERE q.vec_id < 3
            )
            SELECT query_id, vec_id, rank FROM (
              SELECT query_id, vec_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, vec_id) AS rank
              FROM cand
            ) WHERE rank <= 5
        """,
        "embedding_cosine_pairs": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.45
        """,
        "ann_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
                       FROM embeddings WHERE vec_id < 3),
            scored AS (
                SELECT q.query_id, e.vec_id,
                       list_cosine_similarity(q.qvec, e.embedding) AS cos
                FROM embeddings e CROSS JOIN q
                WHERE q.query_id <> e.vec_id
            )
            SELECT query_id, vec_id, rank FROM (
                SELECT query_id, vec_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos DESC, vec_id) AS rank
                FROM scored
            ) WHERE rank <= 5
        """,
        "lang_id_counts": f"""
            SELECT lang_pred, count(*) AS n FROM (
                SELECT {lang_case} AS lang_pred FROM documents
            ) GROUP BY lang_pred
        """,
        "text_metrics": r"""
            SELECT doc_id,
                   len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                   t -> t <> '')) AS n_tokens,
                   len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]'))
                       AS n_units,
                   length(text) AS n_chars_q,
                   len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
                   len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                       t -> t IN ('the','and','of','in','to','is','that',
                                  'with','for','on'))) AS n_stopwords,
                   list_aggregate(list_transform(
                       string_split_regex(trim(lower(text)), '\s+'),
                       t -> length(t)), 'max') AS max_token_len
            FROM documents
        """,
        "fingerprints": r"""
            SELECT doc_id,
                   md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
            FROM documents
        """,
        "clean_names": rf"""
            SELECT doc_id,
                CASE WHEN len(toks) = 0 THEN base
                     ELSE array_to_string(toks, ' ') END AS cleaned
            FROM (
                SELECT doc_id, base,
                    list_filter(
                        regexp_extract_all(
                            regexp_replace(base, '{TAGS_MULTI_PATTERN}', '', 'g'),
                            '[a-zA-Z0-9]+'),
                        t -> t NOT IN ({_STOPWORD_SQL})) AS toks
                FROM (SELECT doc_id, lower(text) AS base FROM documents)
            )
        """,
        "kind_classes": f"""
            SELECT doc_id, ext, {_kind_case_sql()} AS kind FROM (
                SELECT doc_id,
                       ({list(_KIND_EXTS)!r})[CAST(doc_id % {len(_KIND_EXTS)} + 1 AS INTEGER)] AS ext
                FROM documents
            )
        """,
        "naming_rules": f"""
            SELECT p_partkey, new_name,
                   CAST(CASE WHEN new_name = '' THEN 1 ELSE 0 END AS BIGINT)
                       AS blocked
            FROM (
                SELECT p_partkey, {_naming_rules_sql("nm")} AS new_name FROM (
                    SELECT p_partkey,
                           lower(replace(p_name, ' ', '.'))
                           || CASE WHEN p_partkey % 3 = 0 THEN '.720p' ELSE '' END
                           || CASE WHEN p_partkey % 4 = 0 THEN '.x264' ELSE '' END
                               AS nm
                    FROM part
                )
            )
        """,
        "sample_hashes": """
            SELECT doc_id,
                   CASE WHEN length(text) <= 96 THEN sha256(text)
                        ELSE sha256(
                            substring(text, 1, 32)
                            || substring(text, length(text) // 2 - 16 + 1, 32)
                            || substring(text, length(text) - 32 + 1, 32))
                   END AS sample_hash
            FROM documents
        """,
        "rebuild_plan_full": """
            WITH base AS (
                SELECT p_partkey,
                       'coll' || CAST(p_partkey % 15 AS VARCHAR) AS canon,
                       CASE WHEN p_partkey % 5 = 0 THEN ' rem' ELSE '' END
                           AS comment
                FROM part
            ),
            ranked AS (
                SELECT p_partkey, canon, comment,
                       CAST(row_number() OVER (
                           PARTITION BY canon ORDER BY p_partkey) AS BIGINT)
                           AS rn
                FROM base
            )
            SELECT 'doc://x/' || canon || '~' || CAST(p_partkey AS VARCHAR)
                       || comment || '.mp4' AS url,
                   canon || '~' || CAST(rn AS VARCHAR) || comment || '.mp4'
                       AS new_name,
                   rn AS new_seq,
                   CAST(CASE WHEN canon || '~' || CAST(rn AS VARCHAR) || comment
                                  || '.mp4'
                             <> canon || '~' || CAST(p_partkey AS VARCHAR)
                                  || comment || '.mp4'
                        THEN 1 ELSE 0 END AS BIGINT) AS changed
            FROM ranked
        """,
        "rename_plan_clashes": """
            WITH base AS (
                SELECT 'd' || CAST(p_partkey % 4 AS VARCHAR) AS parent,
                       CASE WHEN p_partkey % 8 = 0 THEN 'file'
                            ELSE 'file' || CAST(p_partkey % 8 AS VARCHAR) END
                           AS stem
                FROM part
            ),
            b2 AS (
                SELECT 'doc://h/' || parent || '/' || stem || '.mp4' AS url,
                       parent, stem || '.mp4' AS name,
                       regexp_replace(stem, '(?i)[0-9]+$', '', 'g') || '.mp4'
                           AS new0
                FROM base
            ),
            flagged AS (
                SELECT url, parent, name, new0,
                       new0 <> name AS changed0,
                       count(*) OVER (PARTITION BY parent, new0) > 1 AS clash,
                       row_number() OVER (
                           PARTITION BY parent, new0, new0 <> name
                           ORDER BY url) AS rn
                FROM b2
            ),
            resolved AS (
                SELECT url, name, clash,
                       CASE WHEN clash AND changed0
                            THEN regexp_replace(new0, '\\.[^.]*$', '')
                                 || '-' || CAST(rn AS VARCHAR) || '.mp4'
                            ELSE new0 END AS new_name
                FROM flagged
            )
            SELECT url, new_name,
                   CAST(CASE WHEN new_name <> name AND new_name <> ''
                             THEN 1 ELSE 0 END AS BIGINT) AS changed,
                   CAST(clash AS BIGINT) AS clash
            FROM resolved
        """,
        "join_plan_parent_name": """
            WITH src AS (
                SELECT DISTINCT
                    'doc://h/' || source || '/f' || CAST(doc_id % 6 AS VARCHAR)
                        || '.mp4' AS url,
                    'f' || CAST(doc_id % 6 AS VARCHAR) || '.mp4' AS name,
                    'f' || CAST(doc_id % 6 AS VARCHAR) AS stem,
                    'src' AS origin
                FROM documents
            ),
            tgt AS (
                SELECT DISTINCT
                    'doc://h/t/f' || CAST(doc_id % 4 AS VARCHAR) || '.mp4' AS url,
                    'f' || CAST(doc_id % 4 AS VARCHAR) || '.mp4' AS name,
                    'f' || CAST(doc_id % 4 AS VARCHAR) AS stem,
                    'target' AS origin
                FROM documents WHERE doc_id < 40
            ),
            u AS (SELECT * FROM src UNION ALL SELECT * FROM tgt),
            flagged AS (
                SELECT url, name, stem, origin,
                       regexp_replace(url, '/[^/]*$', '') = 'doc://h/t'
                           AS in_place,
                       count(*) OVER (PARTITION BY name) > 1 AS clash,
                       regexp_extract(regexp_replace(url, '/[^/]*$', ''),
                                      '([^/]*)$', 1) AS par_leaf
                FROM u
            )
            SELECT url, name,
                   CASE WHEN clash
                        THEN par_leaf || '-' || stem || '.mp4' END AS new_name,
                   origin,
                   CAST(in_place AS BIGINT) AS in_place,
                   CAST(clash AS BIGINT) AS clash
            FROM flagged
        """,
        "join_receipts": """
            WITH src AS (
                SELECT DISTINCT
                    'doc://h/' || source || '/f' || CAST(doc_id % 6 AS VARCHAR)
                        || '.mp4' AS url,
                    'f' || CAST(doc_id % 6 AS VARCHAR) || '.mp4' AS name,
                    'src' AS origin
                FROM documents
            ),
            tgt AS (
                SELECT DISTINCT
                    'doc://h/t/f' || CAST(doc_id % 4 AS VARCHAR) || '.mp4' AS url,
                    'f' || CAST(doc_id % 4 AS VARCHAR) || '.mp4' AS name,
                    'target' AS origin
                FROM documents WHERE doc_id < 40
            ),
            u AS (SELECT * FROM src UNION ALL SELECT * FROM tgt),
            flagged AS (
                SELECT url, name, origin,
                       regexp_replace(url, '/[^/]*$', '') = 'doc://h/t'
                           AS in_place,
                       count(*) OVER (PARTITION BY name) > 1 AS clash
                FROM u
            )
            SELECT count(*) AS total,
                   CAST(sum(CASE WHEN clash THEN 1 ELSE 0 END)
                        - count(DISTINCT CASE WHEN clash THEN name END)
                        AS BIGINT) AS clashes,
                   CAST(sum(CASE WHEN in_place AND origin = 'src'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS in_place
            FROM flagged
        """,
        # name_sequence: the k-th renamed member of a clash group gets the
        # k-th integer >= 2 not taken in the target (shared-counter
        # semantics, join.rs:126-135), replayed relationally: candidate
        # integers from generate_series, anti-joined against the parsed
        # taken set, ranked per group. Every target name here carries the
        # .mp4 extension, so only the with-extension decomposition of
        # taken names can match (the engine also handles ext-less names).
        "join_plan_name_sequence": """
            WITH src AS (
                SELECT DISTINCT
                    'doc://h/' || source || '/f' || CAST(doc_id % 6 AS VARCHAR)
                        || '.mp4' AS url,
                    'f' || CAST(doc_id % 6 AS VARCHAR) || '.mp4' AS name,
                    'f' || CAST(doc_id % 6 AS VARCHAR) AS stem,
                    'src' AS origin
                FROM documents
            ),
            plain AS (
                SELECT DISTINCT
                    'doc://h/t/f' || CAST(doc_id % 4 AS VARCHAR) || '.mp4' AS url,
                    'f' || CAST(doc_id % 4 AS VARCHAR) || '.mp4' AS name,
                    'f' || CAST(doc_id % 4 AS VARCHAR) AS stem,
                    'target' AS origin
                FROM documents WHERE doc_id < 40
            ),
            planted AS (
                SELECT DISTINCT
                    'doc://h/t/f' || CAST(doc_id % 4 AS VARCHAR) || '-'
                        || CAST(doc_id % 7 + 2 AS VARCHAR) || '.mp4' AS url,
                    'f' || CAST(doc_id % 4 AS VARCHAR) || '-'
                        || CAST(doc_id % 7 + 2 AS VARCHAR) || '.mp4' AS name,
                    'f' || CAST(doc_id % 4 AS VARCHAR) || '-'
                        || CAST(doc_id % 7 + 2 AS VARCHAR) AS stem,
                    'target' AS origin
                FROM documents WHERE doc_id < 80
            ),
            u AS (
                SELECT * FROM src
                UNION ALL SELECT * FROM plain
                UNION ALL SELECT * FROM planted
            ),
            flagged AS (
                SELECT url, name, stem, origin,
                       regexp_replace(url, '/[^/]*$', '') = 'doc://h/t'
                           AS in_place,
                       count(*) OVER (PARTITION BY name) > 1 AS clash,
                       row_number() OVER (
                           PARTITION BY name
                           ORDER BY (regexp_replace(url, '/[^/]*$', '')
                                     = 'doc://h/t') DESC, url
                       ) AS rk
                FROM u
            ),
            taken AS (
                SELECT DISTINCT
                    regexp_extract(name, '^(.*)-([1-9][0-9]*)\\.([^.]*)$', 1)
                        AS t_stem,
                    CAST(regexp_extract(name,
                        '^(.*)-([1-9][0-9]*)\\.([^.]*)$', 2) AS BIGINT) AS t_i,
                    regexp_extract(name, '^(.*)-([1-9][0-9]*)\\.([^.]*)$', 3)
                        AS t_ext
                FROM (SELECT name FROM plain UNION SELECT name FROM planted)
                WHERE regexp_matches(name, '^(.*)-([1-9][0-9]*)\\.([^.]*)$')
            ),
            free AS (
                SELECT st.stem, s.i,
                       row_number() OVER (PARTITION BY st.stem ORDER BY s.i)
                           AS j
                FROM (SELECT DISTINCT stem FROM flagged WHERE clash) st,
                     generate_series(2, 1000) s(i)
                WHERE NOT EXISTS (
                    SELECT 1 FROM taken t
                    WHERE t.t_stem = st.stem AND t.t_ext = 'mp4'
                          AND t.t_i = s.i AND t.t_i >= 2
                )
            )
            SELECT f.url, f.name,
                   CASE WHEN f.clash AND f.rk > 1
                        THEN f.stem || '-' || CAST(fr.i AS VARCHAR) || '.mp4'
                   END AS new_name,
                   f.origin,
                   CAST(f.in_place AS BIGINT) AS in_place,
                   CAST(f.clash AS BIGINT) AS clash
            FROM flagged f
            LEFT JOIN free fr ON fr.stem = f.stem AND fr.j = f.rk - 1
        """,
        "traversal_universe": """
            WITH t AS (
                SELECT CASE WHEN source = 'src1' THEN '.h-' || source
                            ELSE source END AS s1,
                       'd' || CAST(doc_id % 7 AS VARCHAR) AS s2,
                       CASE WHEN doc_id % 11 = 0 THEN '.p' ELSE 'p' END
                           || CAST(doc_id AS VARCHAR) || '.html' AS leaf
                FROM documents
            )
            SELECT 'http://w/' || s1 || '/' || s2 || '/' || leaf AS path,
                   leaf AS name, CAST(0 AS BIGINT) AS is_dir,
                   CAST(3 AS BIGINT) AS level
            FROM t
            WHERE leaf NOT LIKE '.%' AND s1 NOT LIKE '.%' AND s2 NOT LIKE '.%'
            UNION ALL
            SELECT DISTINCT 'w/' || s1, s1, CAST(1 AS BIGINT),
                   CAST(1 AS BIGINT)
            FROM t WHERE s1 NOT LIKE '.%'
            UNION ALL
            SELECT DISTINCT 'w/' || s1 || '/' || s2, s2, CAST(1 AS BIGINT),
                   CAST(2 AS BIGINT)
            FROM t WHERE s1 NOT LIKE '.%' AND s2 NOT LIKE '.%'
        """,
        "empty_parents_q": """
            WITH bp AS (
                SELECT DISTINCT 'w/' || source AS path, 1 AS level
                FROM documents
                UNION
                SELECT DISTINCT 'w/' || source || '/d'
                           || CAST(doc_id % 7 AS VARCHAR), 2
                FROM documents
            ),
            ap AS (
                SELECT DISTINCT 'w/' || source AS path FROM documents
                WHERE source <> 'src1'
                UNION
                SELECT DISTINCT 'w/' || source || '/d'
                           || CAST(doc_id % 7 AS VARCHAR)
                FROM documents WHERE source <> 'src1'
            )
            SELECT path, CAST(level AS BIGINT) AS level FROM bp
            WHERE path NOT IN (SELECT path FROM ap)
        """,
        "apply_dir_renames": """
            SELECT 'doc://h/' || source || '/d' || CAST(doc_id % 7 AS VARCHAR)
                       || '/p' || CAST(doc_id AS VARCHAR) || '.html' AS old_url,
                   'doc://h/' || source || '/d' || CAST(doc_id % 7 AS VARCHAR)
                       || CASE WHEN doc_id % 7 % 2 = 0 THEN 'x' ELSE '' END
                       || '/' || CASE WHEN doc_id % 5 = 0 THEN 'q' ELSE 'p' END
                       || CAST(doc_id AS VARCHAR) || '.html' AS new_url
            FROM documents
        """,
        "root_validation": """
            WITH p AS (
                SELECT '/crawl/' || source || '/d'
                           || CAST(doc_id % 3 AS VARCHAR) AS root
                FROM documents
            ),
            u AS (SELECT DISTINCT root FROM p)
            SELECT root,
                   CAST(row_number() OVER (ORDER BY root) AS BIGINT) AS rank,
                   CAST((SELECT count(*) FROM p) - (SELECT count(*) FROM u)
                        AS BIGINT) AS n_dropped
            FROM u
        """,
        "list_by_count": f"""
            WITH dirs AS (
                SELECT 'http://w/' || source || '/d'
                           || CAST(doc_id % 7 AS VARCHAR) AS url,
                       CAST(sum(n_chars) AS BIGINT) AS size,
                       count(*) AS count
                FROM documents
                GROUP BY 'http://w/' || source || '/d'
                             || CAST(doc_id % 7 AS VARCHAR)
            )
            SELECT url, count, size,
                   CAST(row_number() OVER (
                       ORDER BY count DESC,
                                {NATURAL_KEY_DUCKDB.format(col="url")},
                                url) AS BIGINT) AS rank
            FROM dirs
        """,
        "quarantine_counts": """
            SELECT
                (SELECT count(*) FROM documents
                 WHERE lang IS NOT NULL AND n_chars >= 60) AS n_ok,
                (SELECT count(*) FROM documents
                 WHERE NOT (lang IS NOT NULL AND n_chars >= 60)) AS n_bad
        """,
        "old_style_migration": r"""
            SELECT p_partkey,
                   CAST(CASE WHEN regexp_matches(stem, '^(\w+)-(\d+)$')
                             THEN 1 ELSE 0 END AS BIGINT) AS is_old_style,
                   CASE WHEN regexp_matches(stem, '^(\w+)-(\d+)$')
                        THEN regexp_extract(stem, '^(\w+)-(\d+)$', 1) END
                       AS base,
                   CASE WHEN regexp_matches(stem, '^(\w+)-(\d+)$')
                        THEN CAST(regexp_extract(stem, '^(\w+)-(\d+)$', 2)
                                  AS BIGINT) END AS seq
            FROM (
                SELECT p_partkey,
                       CASE WHEN p_partkey % 3 = 0
                            THEN replace(p_name, ' ', '_') || '-'
                                 || CAST(p_partkey % 12 AS VARCHAR)
                            ELSE replace(p_name, ' ', '_') END AS stem
                FROM part
            )
        """,
        "sequential_groups": """
            -- dupes.rs:332-405 replayed: digit-run vectors per name,
            -- >10%-without-numbers veto, most-common length with
            -- (count, length) tiebreak, +/-1 length tolerance, and the
            -- exists-a-varying-position test
            WITH named AS (
                SELECT CAST(p_partkey % 30 AS VARCHAR) AS g,
                       CASE WHEN (p_partkey % 30) % 3 = 0 THEN p_name
                            WHEN (p_partkey % 30) % 3 = 1
                                THEN 'show ep ' || CAST(p_partkey % 7 AS VARCHAR)
                            ELSE 'fixed 42 ' || p_name END AS name
                FROM part
            ),
            seqs AS (
                SELECT g, name,
                       list_transform(regexp_extract_all(name, '[0-9]+'),
                           s -> CASE WHEN length(s) < 19
                                     THEN CAST(s AS BIGINT) ELSE -1 END) AS nums
                FROM named
            ),
            base AS (
                SELECT g, count(*) AS n_total,
                       sum(CASE WHEN len(nums) = 0 THEN 1 ELSE 0 END) AS n_without
                FROM seqs GROUP BY g
            ),
            lens AS (
                SELECT g, len(nums) AS l, count(*) AS c
                FROM seqs WHERE len(nums) > 0 GROUP BY g, len(nums)
            ),
            common_len AS (
                SELECT g, l FROM (
                    SELECT g, l, row_number() OVER (
                        PARTITION BY g ORDER BY c DESC, l DESC) AS rk
                    FROM lens
                ) WHERE rk = 1
            ),
            common AS (
                SELECT s.g, s.nums, cl.l AS common_len
                FROM seqs s JOIN common_len cl ON s.g = cl.g
                WHERE len(s.nums) > 0 AND abs(len(s.nums) - cl.l) <= 1
            ),
            varying AS (
                SELECT g, count(*) AS n_varying FROM (
                    SELECT c.g, pos, count(DISTINCT c.nums[pos + 1]) AS nd
                    FROM common c,
                         (SELECT unnest(range(0, 40)) AS pos) p
                    WHERE pos < c.common_len AND pos < len(c.nums)
                    GROUP BY c.g, pos HAVING count(DISTINCT c.nums[pos + 1]) > 1
                ) GROUP BY g
            )
            SELECT b.g AS cluster_id
            FROM base b
            JOIN common_len cl ON b.g = cl.g
            JOIN (SELECT g, count(*) AS n_common FROM common GROUP BY g) nc
              ON b.g = nc.g
            JOIN varying v ON b.g = v.g
            WHERE b.n_total >= 2
              AND NOT (b.n_without > 1 AND b.n_without * 10 > b.n_total)
              AND cl.l > 0
              AND nc.n_common >= 2
        """,
        "probe_dedup_names": f"""
            SELECT DISTINCT
                CASE WHEN regexp_matches(slug, '{grammar_pat}')
                     THEN regexp_extract(slug, '{grammar_pat}', 1)
                     ELSE slug END AS name
            FROM (
                SELECT lower(replace(p_name, ' ', '_')) || '~'
                           || CAST(p_partkey % 40 AS VARCHAR) AS slug
                FROM part
            )
        """,
        "probe_backoff": """
            -- replay of probe.rs:161-206 under the deterministic client:
            -- k%5: 0->200, 1->403 (valid, 1 attempt, no wait);
            --      2->404 (invalid); 3->503 then 200 (valid on attempt 2
            --      after the initial 1000ms wait); 4->always raises
            --      (failed after retries=2: 3 attempts, 1000+2000ms)
            WITH ks AS (SELECT DISTINCT doc_id % 50 AS k FROM documents)
            SELECT 'n' || CAST(k AS VARCHAR) AS name,
                   CASE k % 5 WHEN 2 THEN 'invalid'
                              WHEN 4 THEN 'failed'
                              ELSE 'valid' END AS verdict,
                   CAST(CASE k % 5 WHEN 3 THEN 2 WHEN 4 THEN 3
                                   ELSE 1 END AS BIGINT) AS n_attempts,
                   CAST(CASE k % 5 WHEN 3 THEN 1000 WHEN 4 THEN 3000
                                   ELSE 0 END AS BIGINT) AS waited_ms
            FROM ks
        """,
        "fetch_filter": """
            SELECT doc_id FROM documents
            WHERE regexp_matches(text, '(?i)spark')
              AND NOT regexp_matches(source, '(?i)^src1$')
        """,
        "collection_grammar": f"""
            SELECT p_partkey,
                CASE WHEN regexp_matches(slug, '{grammar_pat}')
                     THEN regexp_extract(slug, '{grammar_pat}', 1)
                     ELSE slug END AS canonical,
                CASE WHEN regexp_matches(slug, '{grammar_pat}')
                     THEN CAST(regexp_extract(slug, '{grammar_pat}', 3) AS BIGINT)
                     END AS seq
            FROM (
                SELECT p_partkey,
                       lower(replace(p_name, ' ', '_')) || '~'
                           || CAST(p_partkey % 40 AS VARCHAR) AS slug
                FROM part
            )
        """,
        "natural_keys": f"""
            SELECT p_partkey, {nat_key} AS nat_key FROM part
        """,
        "source_totals": """
            SELECT source, CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   count(*) AS n_docs
            FROM documents GROUP BY source
        """,
        "window_seq": """
            SELECT o_custkey, o_orderkey,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey) AS seq
            FROM orders
        """,
        "rep_election": """
            SELECT DISTINCT o_custkey,
                   first_value(o_orderkey) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey DESC) AS rep_order
            FROM orders
        """,
        "clash_seq": """
            SELECT p_partkey, p_brand,
                   row_number() OVER (PARTITION BY p_brand
                                      ORDER BY p_partkey) AS rn
            FROM part
        """,
        "clash_groups": """
            SELECT source, name, count(*) AS n FROM (
                SELECT source,
                       'doc-' || CAST(doc_id % 25 AS VARCHAR) AS name
                FROM documents
            ) GROUP BY source, name HAVING count(*) > 1
        """,
        "events_user_stats": """
            SELECT user_id, count(*) AS n_events,
                   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_errors
            FROM events GROUP BY user_id
        """,
        "events_sessionize": """
            SELECT user_id, event_id, session_seq,
                   CAST(row_number() OVER (
                       PARTITION BY user_id, session_seq
                       ORDER BY ts, event_id) AS BIGINT) AS session_event_seq,
                   CAST(row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY ts, event_id) AS BIGINT) AS user_event_seq
            FROM (
                SELECT user_id, event_id, ts,
                       CAST(sum(new_sess) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
                FROM (
                    SELECT user_id, event_id, ts,
                           CASE WHEN lag(ts) OVER (
                                    PARTITION BY user_id ORDER BY ts, event_id)
                                    IS NULL THEN 1
                                WHEN date_diff('second',
                                    lag(ts) OVER (PARTITION BY user_id
                                                  ORDER BY ts, event_id),
                                    ts) > 1800 THEN 1
                                ELSE 0 END AS new_sess
                    FROM events
                )
            )
        """,
        "tpch_pricing": """
            SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
                   CAST(sum(l_quantity) AS BIGINT) AS sum_qty
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "segment_join": """
            SELECT c_mktsegment, count(*) AS n_orders,
                   count(DISTINCT o_custkey) AS n_cust
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "orphan_parts": """
            SELECT count(*) AS n_orphans FROM part
            WHERE p_partkey NOT IN (SELECT DISTINCT l_partkey FROM lineitem)
        """,
        "levenshtein_pairs": """
            SELECT p_partkey, levenshtein(p_name, next_name) AS lev FROM (
                SELECT p_partkey, p_name,
                       lead(p_name) OVER (ORDER BY p_partkey) AS next_name
                FROM part
            ) WHERE next_name IS NOT NULL
        """,
    }
