"""Deterministic synthetic Common-Crawl-style documents table (FIXTURES.md §1).

Seed-fixed generator (seed=42) producing the canonical input table
``(url, warc_ts, html, text, lang)`` plus the ``expected_clusters`` golden
companion ``(url, cluster_id, family, text_sha256)``.

Planted row families (FIXTURES.md §1.1-1.8):
  exact       identical html/text under different urls
  near_text   same text with small edits (typos, reorder, padding, accents)
  near_name   similar url slugs (same collection, different rips), distinct text
  sequential  episode-style slugs with one varying number -> must be EXCLUDED
  substring   pages sharing a >=256-char substring inside different text
  singleton   unique pages (incl. collection-grammar slugs + hidden leaves)
  skew        ~20% of all rows land on one hot host sharing hot tokens

No external data: the vocabulary itself is generated from the seed.
"""

from __future__ import annotations

import hashlib
import random
from datetime import datetime, timedelta, timezone

import pandas as pd

from .config import DedupConfig, DEFAULT

_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

_SYLLABLES = [
    c + v for c in "bcdfghjklmnprstvz" for v in ("a", "e", "i", "o", "u", "ar", "en")
]


def _make_vocab(rng: random.Random, n: int = 400) -> list[str]:
    vocab: list[str] = []
    seen: set[str] = set()
    while len(vocab) < n:
        w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    return vocab


_ACCENT_MAP = str.maketrans({"a": "á", "e": "é", "o": "ô", "u": "ü", "c": "ç"})


def _html_of(text: str) -> bytes:
    return f"<html><body><p>{text}</p></body></html>".encode("utf-8")


def _sha256(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


class _Builder:
    def __init__(self, cfg: DedupConfig, n_docs: int = 1000) -> None:
        self.rng = random.Random(cfg.seed)
        # vocabulary grows with corpus size (Heaps'-law-ish) so token
        # document frequency — and with it candidate-pair volume — stays
        # near-linear in n_docs instead of quadratic
        self.vocab = _make_vocab(self.rng, max(400, n_docs // 10))
        self.hot_tokens = self.vocab[:8]
        self.hosts = [f"site{i:02d}.example.org" for i in range(20)]
        self.hot_host = "hot.example.com"
        self.rows: list[dict] = []
        self.truth: list[dict] = []
        self.next_cluster = 0
        self.doc_seq = 0

    def _host(self, force_hot: bool = False) -> str:
        # skew family: ~20% of rows on one hot host (FIXTURES.md 1.5)
        if force_hot or self.rng.random() < 0.2:
            return self.hot_host
        return self.rng.choice(self.hosts)

    def _slug(self) -> str:
        self.doc_seq += 1
        words = self.rng.sample(self.vocab, 3)
        return f"{'-'.join(words)}-{self.doc_seq}"

    def _text(self, n_words: int, hot: bool = False) -> list[str]:
        pool = self.hot_tokens if hot and self.rng.random() < 0.5 else self.vocab
        return [self.rng.choice(pool) for _ in range(n_words)]

    def _ts(self) -> datetime:
        return _EPOCH + timedelta(seconds=self.rng.randint(0, 30_000_000))

    def add(
        self,
        slug: str,
        text: str,
        lang: str,
        family: str,
        cluster_id: int | None,
        host: str | None = None,
        ext: str = "html",
    ) -> None:
        host = host or self._host()
        url = f"http://{host}/pages/{slug}.{ext}"
        self.rows.append(
            {
                "url": url,
                "warc_ts": self._ts(),
                "html": _html_of(text),
                "text": text,
                "lang": lang,
            }
        )
        self.truth.append(
            {
                "url": url,
                "cluster_id": cluster_id,
                "family": family,
                "text_sha256": _sha256(text),
            }
        )

    def new_cluster(self) -> int:
        self.next_cluster += 1
        return self.next_cluster

    # ---- families ----

    def exact_family(self) -> int:
        cid = self.new_cluster()
        text = " ".join(self._text(self.rng.randint(40, 70)))
        lang = self.rng.choice(["en", "pt", "de"])
        k = self.rng.randint(2, 4)
        for _ in range(k):
            self.add(self._slug(), text, lang, "exact", cid)
        return k

    def near_text_family(self) -> int:
        cid = self.new_cluster()
        words = self._text(self.rng.randint(45, 70))
        lang = self.rng.choice(["en", "pt"])
        self.add(self._slug(), " ".join(words), lang, "near_text", cid)
        k = self.rng.randint(1, 3)
        for _ in range(k):
            w = list(words)
            kind = self.rng.randint(0, 3)
            if kind == 0:  # single-word typo-style replacement
                i = self.rng.randrange(len(w))
                w[i] = w[i][::-1]
            elif kind == 1:  # adjacent swap
                i = self.rng.randrange(len(w) - 1)
                w[i], w[i + 1] = w[i + 1], w[i]
            elif kind == 2:  # small padding
                w.append(self.rng.choice(self.vocab))
            else:  # accented variant of one word (normalizes away)
                i = self.rng.randrange(len(w))
                w[i] = w[i].translate(_ACCENT_MAP)
            self.add(self._slug(), " ".join(w), lang, "near_text", cid)
        return k + 1

    def near_name_family(self) -> int:
        # same collection, different "rips": similar slugs, distinct texts
        cid = self.new_cluster()
        base = self.rng.sample(self.vocab, 4)
        lang = self.rng.choice(["en", "pt"])
        # variants chosen so the reference scoring accepts them at 0.7:
        # tag-noise variant cleans to the identical name; dropped-token
        # variant hits the subset branch of rare_token_similarity
        variants = [
            "-".join(base),
            "-".join(base) + "-" + self.rng.choice(["webdl", "web-dl", "x264"]),
            "-".join(base[:3]),
        ]
        k = self.rng.randint(2, 3)
        for v in variants[:k]:
            text = " ".join(self._text(self.rng.randint(40, 60)))
            self.add(v, text, lang, "near_name", cid)
        return k

    def sequential_family(self) -> int:
        # episode-style slugs -> linked by name similarity, then EXCLUDED by
        # the sequential-group filter (reference dupes.rs:332-405)
        base = self.rng.sample(self.vocab, 4)
        lang = "en"
        k = self.rng.randint(3, 4)
        for i in range(1, k + 1):
            slug = "-".join(base) + f"-s01e{i:02d}"
            text = " ".join(self._text(self.rng.randint(40, 60)))
            self.add(slug, text, lang, "sequential", None)
        return k

    def substring_family(self) -> int:
        cid = self.new_cluster()
        shared = " ".join(self._text(60))  # ~60 words ~ 400+ chars
        for _ in range(2):
            pre = " ".join(self._text(self.rng.randint(15, 30)))
            post = " ".join(self._text(self.rng.randint(15, 30)))
            self.add(self._slug(), f"{pre} {shared} {post}", "en", "substring", cid)
        return 2

    def singleton(self) -> int:
        choice = self.rng.random()
        if choice < 0.08:
            # collection-grammar slug (entry.rs:111-126 test cases)
            name = self.rng.choice(self.vocab)
            slug = f"{name}~{self.rng.randint(1, 99)}"
            if self.rng.random() < 0.5:
                slug = f"{name}+{self.rng.choice(self.vocab)}~{self.rng.randint(1, 99)}"
        elif choice < 0.12:
            slug = "." + self._slug()  # hidden leaf
        else:
            slug = self._slug()
        text = " ".join(self._text(self.rng.randint(30, 80), hot=True))
        self.add(slug, text, self.rng.choice(["en", "pt", "de", None]), "singleton", None)
        return 1


def gen_documents(
    n_docs: int = 1000, cfg: DedupConfig = DEFAULT
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Generate (documents, expected_clusters) pandas frames, deterministic in cfg.seed."""
    b = _Builder(cfg, n_docs)
    total = 0
    # family mix: weights approximate FIXTURES.md guidance
    makers = [
        (b.exact_family, 3),
        (b.near_text_family, 3),
        (b.near_name_family, 1),
        (b.sequential_family, 1),
        (b.substring_family, 1),
        (b.singleton, 8),
    ]
    weighted = [m for m, w in makers for _ in range(w)]
    while total < n_docs:
        total += b.rng.choice(weighted)()
    docs = pd.DataFrame(b.rows)
    truth = pd.DataFrame(b.truth)
    # the random slug space can collide at multi-million doc counts (first
    # observed: 1 collision in 3.2M); two distinct documents under one url
    # would violate the url-keyed input contract (input_hint: one row per
    # url) and merge their planted identities — disambiguate
    # deterministically, keeping docs/truth aligned row-for-row
    dup = docs["url"].duplicated(keep="first")
    if dup.any():
        mangled = docs["url"] + "~u" + docs.groupby("url").cumcount().astype(str)
        docs.loc[dup, "url"] = mangled[dup]
        truth.loc[dup.values, "url"] = mangled[dup].values
    truth["cluster_id"] = truth["cluster_id"].astype("Int64")
    return docs, truth


def to_spark(spark, n_docs: int = 1000, cfg: DedupConfig = DEFAULT):
    """Create (documents_df, truth_df) Spark DataFrames with declared schemas."""
    from . import schema

    docs, truth = gen_documents(n_docs, cfg)
    truth = truth.astype(object).where(pd.notnull(truth), None)
    docs_df = spark.createDataFrame(docs, schema=schema.DOCUMENTS)
    truth_df = spark.createDataFrame(truth, schema=schema.EXPECTED_CLUSTERS)
    return docs_df, truth_df
