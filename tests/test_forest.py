"""Forest join (CrawledTree analogue): cross-doc tree attachment."""

from har2tree_spark.operators.cascade import resolve_exact
from har2tree_spark.operators.forest import forest_edges, forest_join
from har2tree_spark.operators.parse import parse_documents
from har2tree_spark.schema import DOCUMENTS_SCHEMA


def _forest_docs():
    # docA: root k100 redirects k100->k101 (landing k101)
    # docB: root has media_ref k101 (cross-doc referer) -> attaches under A
    # docC: root ref k999 (nothing) -> own root
    # docD: root ref = docB's root key k200 -> chain D -> B -> A
    return [
        {
            "doc_id": "A",
            "spans": [
                {"kind": "redirect", "text": "k100", "media_ref": "k101", "offset": 0},
                {"kind": "html", "text": "k101", "media_ref": "", "offset": 10},
            ],
        },
        {
            "doc_id": "B",
            "spans": [
                {"kind": "html", "text": "k200", "media_ref": "k101", "offset": 0},
                {"kind": "img", "text": "k201", "media_ref": "k200", "offset": 10},
            ],
        },
        {
            "doc_id": "C",
            "spans": [{"kind": "html", "text": "k300", "media_ref": "k999", "offset": 0}],
        },
        {
            "doc_id": "D",
            "spans": [{"kind": "html", "text": "k400", "media_ref": "k200", "offset": 0}],
        },
    ]


def test_forest_edges_and_roots(spark):
    df = spark.createDataFrame(_forest_docs(), DOCUMENTS_SCHEMA)
    feats = parse_documents(df)
    jr = resolve_exact(feats)
    edges = {
        (r.child_doc, r.parent_doc) for r in forest_edges(feats, jr).collect()
    }
    assert edges == {("B", "A"), ("D", "B")}
    fj = forest_join(feats, jr).toPandas().set_index("doc_id")
    assert fj.loc["A", "forest_root"] == "A"
    assert fj.loc["B", "forest_root"] == "A"
    assert fj.loc["D", "forest_root"] == "A"  # transitive through B
    assert fj.loc["C", "forest_root"] == "C"


def test_forest_cycle_terminates(spark):
    # two docs pointing at each other's landing keys: must not hang
    docs = [
        {"doc_id": "X", "spans": [{"kind": "html", "text": "k1", "media_ref": "k2", "offset": 0}]},
        {"doc_id": "Y", "spans": [{"kind": "html", "text": "k2", "media_ref": "k1", "offset": 0}]},
    ]
    df = spark.createDataFrame(docs, DOCUMENTS_SCHEMA)
    feats = parse_documents(df)
    jr = resolve_exact(feats)
    fj = forest_join(feats, jr).toPandas()
    assert len(fj) == 2  # terminated; deterministic ancestors


def test_forest_join_leaves_no_cache_entry(spark):
    # a long-lived driver runs forest_join again and again: it must not
    # leave a persist() entry behind in the session's CacheManager
    spark.catalog.clearCache()
    feats = parse_documents(spark.createDataFrame(_forest_docs(), DOCUMENTS_SCHEMA))
    assert len(forest_join(feats, resolve_exact(feats)).collect()) == 4
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
