"""Multi-page pageref splitting (sources/har_source._pages_layout +
operators/pages.attach_pages): the reference's pages_root bookkeeping
(har2tree.py:185-193, 618-645) and the orphan ladder's pages arms
(har2tree.py:800-855) on real multi-page captures.
"""

import json

import pytest
from pyspark.sql import functions as F

from har2tree_spark.operators.cascade import resolve_exact
from har2tree_spark.operators.pages import attach_pages
from har2tree_spark.operators.parse import parse_documents
from har2tree_spark.sources import har_source


def _entry(url, started, pageref=None, status=200, mime="text/html",
           body="", redirect="", referer=""):
    e = {
        "startedDateTime": started,
        "request": {"url": url, "headers": []},
        "response": {
            "status": status,
            "redirectURL": redirect,
            "content": {"mimeType": mime, "text": body},
        },
    }
    if pageref is not None:
        e["pageref"] = pageref
    if referer:
        e["request"]["headers"].append({"name": "Referer", "value": referer})
    return e


def test_pages_layout_two_pass_and_anchors():
    """Pass 1 (startedDateTime + pageref match), pass 2 (missed page ->
    first pageref-less node, mutated), prior-page anchors."""
    a, b, c = "https://s.example/", "https://s.example/p2", "https://s.example/x"
    entries = [
        _entry(a, "T0", pageref="page_1"),
        _entry(c, "T1"),               # no pageref
        _entry(b, "T2", pageref="page_2"),
    ]
    urls = [har_source._norm(e["request"]["url"]) for e in entries]
    pages = [
        {"id": "page_1", "startedDateTime": "T0"},
        {"id": "page_2", "startedDateTime": "T2"},
        {"id": "page_3", "startedDateTime": "T9"},  # matches no entry
    ]
    pagerefs, pids, roots, before, default = har_source._pages_layout(
        entries, urls, [200, 200, 200], pages
    )
    assert pids == ["page_1", "page_2", "page_3"]
    # pass 1 roots pages 1/2; pass 2 assigns page_3 to the first
    # pageref-less node (entry 1) and mutates its pageref
    assert roots == [0, 2, 1]
    assert pagerefs == ["page_1", "page_3", "page_2"]
    # prior-page anchors (the reference's loop semantics, 830-841):
    # page_2 -> break immediately, keep page_1's root; page_3 -> page_2's
    # root; page_1 NEVER matches in pages[1:] so the loop runs out and the
    # LAST rooted page wins (page_3 -> entry 1) -- the reference's literal
    # behavior for a first-page orphan
    assert before == [1, 0, 2]
    # no-pageref default: last rooted page overall (page_3 -> entry 1)
    assert default == 1


def test_pages_layout_ignored_entries_never_root():
    a = "https://s.example/"
    entries = [
        _entry(a, "T0", pageref="page_1", status=0),  # 0-status twin
        _entry(a, "T0", pageref="page_1"),            # the valid twin
    ]
    urls = [har_source._norm(e["request"]["url"]) for e in entries]
    pages = [{"id": "page_1", "startedDateTime": "T0"}]
    _, _, roots, _, _ = har_source._pages_layout(entries, urls, [0, 200], pages)
    # the ignored 0-status entry is skipped; the valid twin roots the page
    assert roots == [1]


@pytest.fixture(scope="module")
def multipage_dir(tmp_path_factory):
    root = tmp_path_factory.mktemp("multipage")
    a = "https://mp.example/"
    a2 = "https://mp.example/style.css"
    b = "https://mp.example/second"
    c = "https://mp.example/second/orphan.png"
    har = {"log": {
        "pages": [
            {"id": "page_1", "startedDateTime": "2024-01-01T00:00:00"},
            {"id": "page_2", "startedDateTime": "2024-01-01T00:00:02"},
        ],
        "entries": [
            _entry(a, "2024-01-01T00:00:00", pageref="page_1",
                   body='<html><link href="style.css"></html>'),
            _entry(a2, "2024-01-01T00:00:01", pageref="page_1", mime="text/css"),
            # second page root: no redirect/referer/initiator -> orphan
            _entry(b, "2024-01-01T00:00:02", pageref="page_2", body="<p>2</p>"),
            # second-page resource, also relationally orphaned (nothing
            # references it, it references nothing)
            _entry(c, "2024-01-01T00:00:03", pageref="page_2", mime="image/png"),
        ],
    }}
    (root / "mp.har").write_text(json.dumps(har))
    return str(root), (a, a2, b, c)


def test_second_page_attaches_via_pages_ladder(spark, multipage_dir):
    root, (a, a2, b, c) = multipage_dir
    caps = har_source.read_har_captures(spark, root).cache()
    row = caps.toPandas().iloc[0]
    assert list(row["page_ids"]) == ["page_1", "page_2"]
    assert list(row["pages_root_idx"]) == [0, 2]
    assert list(row["span_pagerefs"]) == ["page_1", "page_1", "page_2", "page_2"]

    feats = parse_documents(caps.select("doc_id", "spans"))
    tree = resolve_exact(feats)
    before = {r["span_idx"]: r["join_kind"] for r in tree.collect()}
    # without the pages ladder both second-page spans are generic orphans
    assert before[2] == "fallback_root" and before[3] == "fallback_root"

    after = {r["span_idx"]: r for r in attach_pages(tree, caps).collect()}
    # the second-page ROOT anchors to the prior page's root (arm C,
    # har2tree.py:829-851) -- the pages path, not generic fallback
    assert after[2]["join_kind"] == "page_before"
    assert after[2]["parent_idx"] == 0
    # the second-page resource attaches to ITS page root (arm A,
    # har2tree.py:800-816)
    assert after[3]["join_kind"] == "page"
    assert after[3]["parent_idx"] == 2
    # resolved rows are untouched
    assert after[0]["join_kind"] == "root"
    assert after[1]["join_kind"] == "resource"


def test_rendered_arm_without_pages(spark, tmp_path):
    """Arm B: an orphan in a pages-less capture attaches to the rendered
    node when it differs from the tree root (har2tree.py:817-828)."""
    a = "https://r.example/"
    land = "https://r.example/landing"
    orphan = "https://r.example/stray.png"
    har = {"log": {"entries": [
        _entry(a, "2024-01-01T00:00:00", status=302, redirect="/landing"),
        _entry(land, "2024-01-01T00:00:01", body="<p>land</p>"),
        _entry(orphan, "2024-01-01T00:00:02", mime="image/png"),
    ]}}
    root = tmp_path / "rend"
    root.mkdir()
    (root / "r.har").write_text(json.dumps(har))
    (root / "r.last_redirect.txt").write_text(land)
    caps = har_source.read_har_captures(spark, str(root)).cache()
    feats = parse_documents(caps.select("doc_id", "spans"))
    after = {
        r["span_idx"]: r for r in attach_pages(resolve_exact(feats), caps).collect()
    }
    assert after[2]["join_kind"] == "page_rendered"
    assert after[2]["parent_idx"] == 1
    # the redirect edge itself is untouched
    assert after[1]["join_kind"] == "redirect"


def test_attach_pages_plan_no_python(spark, multipage_dir):
    """attach_pages is pure JVM column logic over the captures dimension:
    no Python stage beyond the ingest reader itself."""
    root, _ = multipage_dir
    caps = har_source.read_har_captures(spark, root)
    feats = parse_documents(caps.select("doc_id", "spans"))
    plan = attach_pages(resolve_exact(feats), caps)._jdf.queryExecution().executedPlan().toString()
    # every Python stage in the plan is the ingest reader's Arrow closure
    # (replicated per DAG branch when uncached); the attach itself adds no
    # Python and no row-at-a-time UDF ever appears
    assert "BatchEvalPython" not in plan
    import re

    python_stages = re.findall(r"\w*InPandas\w*", plan)
    assert set(python_stages) <= {"FlatMapGroupsInPandas", "MapInPandas"}


def test_attach_pages_duckdb_cross_check(spark, tmp_path):
    """Value-exact DuckDB replay of the pages ladder over a randomized
    multi-page corpus: the tree and the captures dimension round-trip
    through parquet and the arm A/B/C re-parenting is recomputed in SQL
    (list_extract/list_position over the same aligned arrays), compared
    row-for-row."""
    import random

    import duckdb

    rng = random.Random(1337)
    root = tmp_path / "rand_caps"
    root.mkdir()
    for d in range(40):
        n_pages = rng.randint(0, 4)
        n_entries = rng.randint(3, 12)
        pages = [
            {"id": f"page_{p+1}",
             "startedDateTime": f"2024-01-01T00:00:{rng.randint(0, n_entries-1):02d}"}
            for p in range(n_pages)
        ]
        entries = []
        for i in range(n_entries):
            url = f"https://h{rng.randint(0, 3)}.example/p{i}"
            e = _entry(
                url,
                f"2024-01-01T00:00:{i:02d}",
                pageref=(f"page_{rng.randint(1, n_pages)}"
                         if n_pages and rng.random() < 0.7 else None),
                status=0 if rng.random() < 0.15 else 200,
                referer=(f"https://h0.example/p{rng.randint(0, i-1)}"
                         if i and rng.random() < 0.4 else ""),
            )
            entries.append(e)
        har = {"log": {"pages": pages, "entries": entries}}
        (root / f"d{d:02d}.har").write_text(json.dumps(har))
        if rng.random() < 0.5:
            # a last_redirect sidecar makes rendered_span_idx interesting
            (root / f"d{d:02d}.last_redirect.txt").write_text(
                entries[rng.randint(0, n_entries - 1)]["request"]["url"]
            )

    caps = har_source.read_har_captures(spark, str(root))
    tree = resolve_exact(parse_documents(caps.select("doc_id", "spans")))
    got = attach_pages(tree, caps)

    tree_pq, caps_pq, got_pq = (str(tmp_path / n) for n in ("t.pq", "c.pq", "g.pq"))
    tree.write.mode("overwrite").parquet(tree_pq)
    caps.drop("spans").write.mode("overwrite").parquet(caps_pq)
    got.write.mode("overwrite").parquet(got_pq)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW tree AS SELECT * FROM read_parquet('{tree_pq}/*.parquet')")
    con.execute(f"CREATE VIEW caps AS SELECT * FROM read_parquet('{caps_pq}/*.parquet')")
    oracle = con.execute("""
        WITH roots AS (
          SELECT doc_id, min(span_idx) AS tree_root_idx
          FROM tree WHERE parent_idx = -1 GROUP BY doc_id
        ),
        j AS (
          SELECT t.doc_id, t.span_idx, t.parent_idx, t.join_kind, t.priority,
                 t.depth, c.rendered_span_idx, c.span_pagerefs, c.page_ids,
                 c.pages_root_idx, c.page_before_root_idx,
                 c.page_default_anchor_idx, r.tree_root_idx
          FROM tree t
          LEFT JOIN caps c USING (doc_id)
          LEFT JOIN roots r USING (doc_id)
        ),
        x AS (
          SELECT *,
                 list_extract(span_pagerefs, span_idx + 1) AS pr,
                 list_position(page_ids, list_extract(span_pagerefs, span_idx + 1)) AS pidx
          FROM j
        ),
        y AS (
          SELECT *,
                 CASE WHEN pidx IS NOT NULL AND pidx > 0
                      THEN list_extract(pages_root_idx, pidx) END AS proot,
                 COALESCE(CASE WHEN pidx IS NOT NULL AND pidx > 0
                               THEN list_extract(page_before_root_idx, pidx) END,
                          page_default_anchor_idx) AS bef
          FROM x
        ),
        z AS (
          SELECT *,
                 (len(page_ids) > 1 AND pr IS NOT NULL AND proot IS NOT NULL
                  AND proot != span_idx) AS arm_a,
                 (rendered_span_idx IS NOT NULL
                  AND rendered_span_idx != tree_root_idx
                  AND rendered_span_idx != span_idx) AS arm_b,
                 (len(page_ids) > 0 AND bef IS NOT NULL AND bef != span_idx) AS arm_c
          FROM y
        )
        SELECT doc_id, span_idx,
               CASE WHEN hit THEN new_parent ELSE parent_idx END AS parent_idx,
               CASE WHEN hit THEN new_kind ELSE join_kind END AS join_kind,
               CASE WHEN hit THEN new_prio ELSE priority END AS priority,
               CASE WHEN hit THEN NULL ELSE depth END AS depth
        FROM (
          SELECT *,
                 (join_kind = 'fallback_root'
                  AND (CASE WHEN arm_a THEN proot
                            WHEN arm_b THEN rendered_span_idx
                            WHEN arm_c THEN bef END) IS NOT NULL) AS hit,
                 CASE WHEN arm_a THEN proot
                      WHEN arm_b THEN rendered_span_idx
                      WHEN arm_c THEN bef END AS new_parent,
                 CASE WHEN arm_a THEN 'page'
                      WHEN arm_b THEN 'page_rendered'
                      WHEN arm_c THEN 'page_before' END AS new_kind,
                 CASE WHEN arm_a THEN 10 WHEN arm_b THEN 11
                      WHEN arm_c THEN 12 END AS new_prio
          FROM z
        )
    """).fetchall()
    # cycle-guard replay (r7 ADVICE #2), implemented INDEPENDENTLY as a
    # plain dict walk: a re-parented row whose anchor path (over the
    # post-ladder parent map) returns to the row itself is rejected back
    # to its original fallback edge. The walk is uncapped: it stops at the
    # span, at the root or a missing pointer, or on a node it has seen.
    orig = {
        (r[0], r[1]): tuple(r)
        for r in con.execute(
            "SELECT doc_id, span_idx, parent_idx, join_kind, priority, depth FROM tree"
        ).fetchall()
    }
    post = {(r[0], r[1]): tuple(r) for r in oracle}
    pmap = {}
    for (d, s), r in post.items():
        pmap.setdefault(d, {})[s] = r[2]
    fixed = []
    for (d, s), r in post.items():
        if r[3] in ("page", "page_rendered", "page_before"):
            cur, seen = r[2], set()
            while cur is not None and cur != -1 and cur != s and cur not in seen:
                seen.add(cur)
                cur = pmap[d].get(cur)
            if cur == s:
                fixed.append(orig[(d, s)])
                continue
        fixed.append(r)
    oracle = fixed
    got_rows = sorted(tuple(r) for r in spark.read.parquet(got_pq).collect())
    assert got_rows == sorted(tuple(r) for r in oracle)
    # the ladder actually fired somewhere in the random corpus
    kinds = {r[3] for r in got_rows}
    assert kinds & {"page", "page_rendered", "page_before"}


def test_depths_recomputed_after_page_reparenting(spark, multipage_dir):
    """r7 ADVICE #1: attach_pages nulls depth only on re-parented rows, so
    consumers must re-derive depths from the post-ladder parent pointers.
    In the multipage fixture span 3 re-parents 0->2, which moves it one
    level DEEPER (0 -> 2 -> 3): the stale DFS depth column says 1, the
    true post-ladder depth is 2 and the tree_depth is 3."""
    from har2tree_spark.operators import stats

    root, _ = multipage_dir
    caps = har_source.read_har_captures(spark, root).cache()
    feats = parse_documents(caps.select("doc_id", "spans"))
    tree = attach_pages(resolve_exact(feats), caps)
    depths = {
        r["span_idx"]: r["depth"]
        for r in stats.compute_depths(tree).collect()
    }
    assert depths == {0: 0, 1: 1, 2: 1, 3: 2}
    ds = stats.doc_stats(feats, tree, depth_complete=False).collect()[0]
    assert ds["tree_depth"] == 3


def test_attach_pages_rejects_cycle_forming_anchor(spark):
    """r7 ADVICE #2: an orphan whose ladder anchor sits in its own subtree
    (here: the page-2 root was claimed as the orphan's resource child)
    must NOT be re-parented — orphan->anchor->orphan would leave both
    unreachable to the depth pass. The re-parent is rejected and the
    orphan keeps its fallback_root edge; independent re-parents in the
    same doc still land. A 301-member cycle (longer than any fixed walk
    cap would cover) is rejected just the same."""
    import pyspark.sql.types as T

    from har2tree_spark.operators import stats

    tree = spark.createDataFrame(
        [
            ("d", 0, -1, "root", 0, 0),
            # span 2 (page-2 root) is the orphan's resource CHILD
            ("d", 2, 1, "resource", 5, None),
            ("d", 1, 0, "fallback_root", 9, None),
            # an unrelated orphan whose arm-A anchor (span 2) is fine
            ("d", 3, 0, "fallback_root", 9, None),
        ],
        "doc_id string, span_idx int, parent_idx int, join_kind string, priority int, depth int",
    )
    cap_schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("rendered_span_idx", T.IntegerType()),
        T.StructField("span_pagerefs", T.ArrayType(T.StringType())),
        T.StructField("page_ids", T.ArrayType(T.StringType())),
        T.StructField("pages_root_idx", T.ArrayType(T.IntegerType())),
        T.StructField("page_before_root_idx", T.ArrayType(T.IntegerType())),
        T.StructField("page_default_anchor_idx", T.IntegerType()),
    ])
    caps = spark.createDataFrame(
        [
            (
                "d",
                None,               # rendered_span_idx
                ["p1", "p2", "p2", "p2"],  # span_pagerefs
                ["p1", "p2"],       # page_ids
                [0, 2],             # pages_root_idx
                [None, 0],          # page_before_root_idx
                None,               # page_default_anchor_idx
            )
        ],
        cap_schema,
    )
    out = {r["span_idx"]: r for r in attach_pages(tree, caps).collect()}
    # span 1: arm A would anchor to span 2, but 2's parent chain is 2->1
    # (the span itself) — rejected, stays on the original fallback edge
    assert out[1]["join_kind"] == "fallback_root"
    assert out[1]["parent_idx"] == 0
    # span 3: same arm-A anchor, no cycle (3 is not on 2's path) — lands
    assert out[3]["join_kind"] == "page"
    assert out[3]["parent_idx"] == 2
    # untouched rows stay untouched
    assert out[2]["join_kind"] == "resource" and out[2]["parent_idx"] == 1

    # orphan 1 under root 0 with a chain 2..301 below it; arm B anchors it
    # to the rendered node 301, the chain's far end: a 301-member cycle
    chain = [("c", 0, -1, "root", 0, 0), ("c", 1, 0, "fallback_root", 9, None)]
    chain += [("c", i, i - 1, "resource", 5, None) for i in range(2, 302)]
    tree = spark.createDataFrame(
        chain,
        "doc_id string, span_idx int, parent_idx int, join_kind string, priority int, depth int",
    )
    caps = spark.createDataFrame([("c", 301, [None] * 302, [], [], [], None)], cap_schema)
    got = attach_pages(tree, caps)
    out = {r["span_idx"]: r for r in got.collect()}
    assert out[1]["join_kind"] == "fallback_root"
    assert out[1]["parent_idx"] == 0
    depths = {r["span_idx"]: r["depth"] for r in stats.compute_depths(got).collect()}
    assert len(depths) == 302
    assert None not in depths.values()
