"""Deterministic synthetic generator for the interleaved-document table.

Produces ``documents(doc_id, spans:array<struct<kind,text,media_ref,offset>>)``
(BASELINE.json input_hint) with the structural scenarios of the reference's
test corpus (reference tests/simple_test.py:16-27 capture_samples — redirect
chains, referer links, iframes, orphans, duplicate/invalid entries, hot-key
skew) re-expressed in span form (FIXTURES.md §1).

One generator, two drivers:
  * ``gen_docs(seed, n_docs, ...)`` — in-process (numpy RNG), for the
    oracle tests.
  * ``gen_documents_df(spark, ...)`` — distributed via ``mapInPandas`` over
    ``spark.range`` so a bench corpus of millions of docs is generated in
    parallel with no driver materialization (scales to any size). Each task
    calls ``gen_docs`` per doc id, which seeds its RNG from the id, so the
    output equals ``gen_docs``' and is independent of partitioning.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from har2tree_spark.schema import DOCUMENTS_SCHEMA

FILLER = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]

# Link types and the span-kind constraints they impose (SURVEY.md §2.4).
_LINKS = ("redirect", "frame", "initiator", "referer", "resource")
_CONTENT_KINDS = ("text", "html", "css", "js", "img", "video", "audio")
# rng.choice(seq) with no p/size draws exactly one integers(0, len(seq)) from
# the bit stream, so seq[int(rng.integers(0, len(seq)))] is draw-sequence
# identical while skipping Generator.choice's array wrapping (~5x faster per
# call; verified bit-equal in tests/test_datagen.py).
_CONTENT_NO_JS = tuple(k for k in _CONTENT_KINDS if k != "js")


@dataclass(frozen=True)
class GenConfig:
    max_spans: int = 16
    p_orphan: float = 0.05  # media_ref -> absent key (fallback path)
    p_dup_invalid: float = 0.05  # duplicate key with kind='empty' (P2 dedup)
    p_empty_doc: float = 0.01  # spans=[] (quarantine path)
    n_hot_keys: int = 64  # shared-across-docs key pool (hot cells)
    p_hot: float = 0.2
    zipf_s: float = 1.2


def _make_doc(rng: np.random.Generator, doc_index: int, cfg: GenConfig) -> list[dict]:
    """One document's spans. Builds a random tree over spans, then encodes
    each edge as one of the five cascade link types."""
    if rng.random() < cfg.p_empty_doc:
        return []
    n = int(rng.integers(1, cfg.max_spans + 1))
    # own keys: mostly unique per (doc, slot); sometimes from the hot pool
    keys = []
    for i in range(n):
        if rng.random() < cfg.p_hot:
            # zipf over the hot pool: key 1 is the mega-hostname analogue
            k = 1 + min(int(rng.zipf(cfg.zipf_s)) - 1, cfg.n_hot_keys - 1)
        else:
            k = 1000 + doc_index * 4096 + i
        keys.append(f"k{k}")

    kinds = [""] * n
    texts = [""] * n
    media = [""] * n
    extra_tokens: list[list[str]] = [[] for _ in range(n)]

    kinds[0] = "html"  # root is the page document
    for i in range(1, n):
        parent = int(rng.integers(0, i))
        link = _LINKS[int(rng.integers(0, len(_LINKS)))]
        orphan = rng.random() < cfg.p_orphan
        target_key = keys[parent] if not orphan else f"k{900000000 + doc_index * 64 + i}"
        if link == "redirect":
            # forward pointer: parent becomes a redirect span aimed at child
            if kinds[parent] in ("", "text") and media[parent] == "":
                kinds[parent] = "redirect"
                media[parent] = keys[i] if not orphan else target_key
                kinds[i] = "html"
            else:  # parent already committed; fall back to a referer link
                media[i] = target_key
                kinds[i] = _CONTENT_KINDS[int(rng.integers(0, len(_CONTENT_KINDS)))]
        elif link == "frame":
            if kinds[parent] in ("", "text", "html", "iframe"):
                kinds[parent] = "iframe"
                if not orphan:
                    extra_tokens[parent].append(keys[i])
                kinds[i] = "html"
            else:
                media[i] = target_key
                kinds[i] = _CONTENT_KINDS[int(rng.integers(0, len(_CONTENT_KINDS)))]
        elif link == "initiator":
            kinds[i] = "js"
            # F21: some initiators arrive as call-stack walks rather than
            # flat pointers (variant chosen deterministically so the RNG
            # draw sequence — and every other span in the corpus — is
            # unchanged vs the pre-stack generator)
            v = (doc_index + i) % 7
            if v == 0:
                media[i] = f"stack:|{target_key}"  # empty top level, walk down
            elif v == 1:
                media[i] = f"stack:{target_key} k0"  # level 0, extra frame ignored
            else:
                media[i] = target_key
        elif link == "referer":
            kinds[i] = _CONTENT_NO_JS[int(rng.integers(0, len(_CONTENT_NO_JS)))]
            media[i] = target_key
        else:  # resource: parent's text embeds child's key; child has no referer
            if kinds[parent] in ("", "text", "html", "css", "js"):
                if kinds[parent] in ("", "text"):
                    kinds[parent] = "html"
                if not orphan:
                    extra_tokens[parent].append(keys[i])
                kinds[i] = _CONTENT_KINDS[int(rng.integers(0, len(_CONTENT_KINDS)))]
            else:
                media[i] = target_key
                kinds[i] = _CONTENT_KINDS[int(rng.integers(0, len(_CONTENT_KINDS)))]

    for i in range(n):
        if kinds[i] == "":
            kinds[i] = "text"
        nfill = int(rng.integers(0, 4))
        fill = [FILLER[int(rng.integers(0, len(FILLER)))] for _ in range(nfill)]
        texts[i] = " ".join([keys[i], *extra_tokens[i], *fill])

    spans = [
        {"kind": kinds[i], "text": texts[i], "media_ref": media[i], "offset": i * 10}
        for i in range(n)
    ]
    # duplicate+invalid twin (status-0 dedup analogue, har2tree.py:575-603)
    if n >= 1 and rng.random() < cfg.p_dup_invalid:
        j = int(rng.integers(0, n))
        spans.append(
            {"kind": "empty", "text": keys[j], "media_ref": "", "offset": n * 10}
        )
    return spans


def gen_docs(seed: int, n_docs: int, cfg: GenConfig | None = None, start: int = 0):
    """List of (doc_id, spans) rows — driver-side, for tests/oracle."""
    cfg = cfg or GenConfig()
    out = []
    for d in range(start, start + n_docs):
        rng = np.random.default_rng(np.random.SeedSequence([seed, d]))
        out.append({"doc_id": f"doc-{d:08d}", "spans": _make_doc(rng, d, cfg)})
    return out


def scenario_docs() -> list[dict]:
    """Hand-written scenario docs (FIXTURES.md §1) with knowable expected
    cascade output — the capture_samples analogue."""

    def sp(kind, text, media_ref="", offset=None, _c=[0]):
        return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}

    docs = []
    # redirect chain s0 -> s1 -> s2 -> s3 (http_redirect capture analogue)
    docs.append(
        {
            "doc_id": "scn-redirect",
            "spans": [
                {"kind": "redirect", "text": "k1", "media_ref": "k2", "offset": 0},
                {"kind": "redirect", "text": "k2", "media_ref": "k3", "offset": 10},
                {"kind": "redirect", "text": "k3", "media_ref": "k4", "offset": 20},
                {"kind": "html", "text": "k4", "media_ref": "", "offset": 30},
            ],
        }
    )
    # referer vs no_referer
    docs.append(
        {
            "doc_id": "scn-referer",
            "spans": [
                {"kind": "html", "text": "k10", "media_ref": "", "offset": 0},
                {"kind": "img", "text": "k11", "media_ref": "k10", "offset": 10},
                {"kind": "css", "text": "k12", "media_ref": "k10", "offset": 20},
            ],
        }
    )
    docs.append(
        {
            "doc_id": "scn-no-referer",
            "spans": [
                {"kind": "html", "text": "k10", "media_ref": "", "offset": 0},
                {"kind": "img", "text": "k11", "media_ref": "", "offset": 10},
                {"kind": "css", "text": "k12", "media_ref": "", "offset": 20},
            ],
        }
    )
    # iframe embedding two children
    docs.append(
        {
            "doc_id": "scn-iframe",
            "spans": [
                {"kind": "iframe", "text": "k20 k21 k22", "media_ref": "", "offset": 0},
                {"kind": "html", "text": "k21", "media_ref": "", "offset": 10},
                {"kind": "html", "text": "k22", "media_ref": "", "offset": 20},
            ],
        }
    )
    # initiator (js)
    docs.append(
        {
            "doc_id": "scn-initiator",
            "spans": [
                {"kind": "html", "text": "k30", "media_ref": "", "offset": 0},
                {"kind": "js", "text": "k31", "media_ref": "k30", "offset": 10},
            ],
        }
    )
    # initiator via call-stack walk (reference nodes.py:643-649): k36
    # resolves one level down, k37 at level 0 (extra frames ignored),
    # k38's stack is unresolvable -> spatial fallback
    docs.append(
        {
            "doc_id": "scn-initiator-stack",
            "spans": [
                {"kind": "html", "text": "k35", "media_ref": "", "offset": 0},
                {"kind": "js", "text": "k36", "media_ref": "stack:|k35 k0", "offset": 10},
                {"kind": "js", "text": "k37", "media_ref": "stack:k35", "offset": 20},
                {"kind": "js", "text": "k38", "media_ref": "stack:||", "offset": 30},
            ],
        }
    )
    # resource extraction (html text embeds child's key; child has no referer)
    docs.append(
        {
            "doc_id": "scn-resource",
            "spans": [
                {"kind": "html", "text": "k40 k41", "media_ref": "", "offset": 0},
                {"kind": "img", "text": "k41", "media_ref": "", "offset": 10},
            ],
        }
    )
    # orphan -> spatial fallback
    docs.append(
        {
            "doc_id": "scn-orphan",
            "spans": [
                {"kind": "html", "text": "k50", "media_ref": "", "offset": 0},
                {"kind": "img", "text": "k51", "media_ref": "k999999", "offset": 10},
            ],
        }
    )
    # duplicate + invalid twin (exactly one surviving join row for k61)
    docs.append(
        {
            "doc_id": "scn-dup-invalid",
            "spans": [
                {"kind": "html", "text": "k60 k61", "media_ref": "", "offset": 0},
                {"kind": "img", "text": "k61", "media_ref": "", "offset": 10},
                {"kind": "empty", "text": "k61", "media_ref": "", "offset": 20},
            ],
        }
    )
    # empty/broken doc (quarantine, not failure)
    docs.append({"doc_id": "scn-empty", "spans": []})
    return docs


def gen_documents_df(spark, n_docs: int, seed: int = 42, cfg: GenConfig | None = None,
                     include_scenarios: bool = False, partitions: int | None = None):
    """Distributed generation: one task per id-range slice, no driver data."""
    import pandas as pd  # noqa: PLC0415

    cfg = cfg or GenConfig()
    partitions = partitions or spark.sparkContext.defaultParallelism

    def gen_part(batches):
        for pdf in batches:
            rows = [gen_docs(seed, 1, cfg, start=int(d))[0] for d in pdf["id"].tolist()]
            yield pd.DataFrame(rows)

    df = (
        spark.range(0, n_docs, numPartitions=partitions)
        .mapInPandas(gen_part, schema=DOCUMENTS_SCHEMA)
    )
    if include_scenarios:
        df = df.unionByName(spark.createDataFrame(scenario_docs(), DOCUMENTS_SCHEMA))
    return df


def write_corpus(spark, path: str, n_docs: int, seed: int = 42,
                 cfg: GenConfig | None = None) -> None:
    (
        gen_documents_df(spark, n_docs, seed, cfg, include_scenarios=True)
        .write.mode("overwrite")
        .parquet(path)
    )
