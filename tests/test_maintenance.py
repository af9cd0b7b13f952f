"""Incremental maintenance parity: remove/insert/update on the Spark
index vs the Python oracle (the oracle ports Orama's removal recurrence
exactly), plus tombstone-compose and compaction invariants."""

import pytest

from orama_spark.build.indexer import IndexBuilder
from orama_spark.build.maintenance import (
    compact,
    insert_documents,
    remove_documents,
    update_documents,
    upsert_documents,
)
from orama_spark.config import IndexConfig
from orama_spark.oracle.engine import OramaOracle
from orama_spark.query.engine import SearchIndex

SCHEMA = {"t": "string", "cat": "enum"}
ROWS = [
    {"docid": 1, "t": "alpha beta gamma", "cat": "x"},
    {"docid": 2, "t": "alpha beta", "cat": "x"},
    {"docid": 3, "t": "alpha delta epsilon zeta", "cat": "y"},
    {"docid": 4, "t": "beta delta", "cat": "y"},
    {"docid": 5, "t": "alpha alpha omega", "cat": "z"},
]


def build(spark, out):
    cfg = IndexConfig(schema=SCHEMA)
    df = spark.createDataFrame(ROWS)
    IndexBuilder(cfg, postings_partitions=2).build(df, out, input_id="m")
    return cfg


def oracle():
    db = OramaOracle(SCHEMA)
    for r in ROWS:
        db.insert({k: v for k, v in r.items() if k != "docid"}, docid=r["docid"])
    return db


def assert_match(idx, orc, term, **kw):
    got = [(r["docid"], r["score"]) for r in idx.search(term=term, **kw).top_df().collect()]
    want = [(h["id"], h["score"]) for h in orc.search(term=term, **kw)["hits"]]
    assert [g[0] for g in got] == [w[0] for w in want]
    for (gi, gs), (wi, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-9)


def test_remove_then_search_parity(spark, tmpdir_index):
    cfg = build(spark, tmpdir_index)
    orc = oracle()
    remove_documents(spark, tmpdir_index, cfg,
                     spark.createDataFrame([(2,), (5,)], "docid long"))
    orc.remove(2)
    orc.remove(5)
    idx = SearchIndex.load(spark, tmpdir_index, cfg)
    assert_match(idx, orc, "alpha")
    assert_match(idx, orc, "beta delta", threshold=0.0)
    assert idx.search(term="alpha").count() == 2


def test_insert_then_search_parity(spark, tmpdir_index):
    cfg = build(spark, tmpdir_index)
    orc = oracle()
    new = [{"docid": 10, "t": "alpha nu xi", "cat": "w"},
           {"docid": 11, "t": "omega omicron", "cat": "w"}]
    insert_documents(spark, tmpdir_index, cfg, spark.createDataFrame(new))
    for r in new:
        orc.insert({k: v for k, v in r.items() if k != "docid"}, docid=r["docid"])
    idx = SearchIndex.load(spark, tmpdir_index, cfg)
    assert_match(idx, orc, "alpha")
    assert_match(idx, orc, "omega")


def test_duplicate_insert_rejected(spark, tmpdir_index):
    cfg = build(spark, tmpdir_index)
    with pytest.raises(ValueError, match="DOCUMENT_ALREADY_EXISTS"):
        insert_documents(
            spark, tmpdir_index, cfg,
            spark.createDataFrame([{"docid": 1, "t": "dup", "cat": "x"}]),
        )


@pytest.mark.parametrize("write", [insert_documents, upsert_documents], ids=["insert", "upsert"])
def test_insert_batch_repeating_a_docid_rejected(spark, tmpdir_index, write):
    """insertMultiple raises on the second insert of an id even when the
    first came in the same batch; nothing of the batch is written.
    upsert inherits the check through its insert."""
    import os

    cfg = build(spark, tmpdir_index)
    remove_documents(spark, tmpdir_index, cfg, spark.createDataFrame([(2,)], "docid long"))
    for ids in ([10, 10], [2, 2]):  # new, tombstoned
        batch = [{"docid": d, "t": t, "cat": "w"} for d, t in zip(ids, ("beta", "gamma"))]
        with pytest.raises(ValueError, match="DOCUMENT_ALREADY_EXISTS: 1 "):
            write(spark, tmpdir_index, cfg, spark.createDataFrame(batch))
    assert spark.read.parquet(os.path.join(tmpdir_index, "docs")).count() == 5
    idx = SearchIndex.load(spark, tmpdir_index, cfg)
    assert idx.stats["docs_count"] == 4
    assert idx.search(term="gamma").count() == 1


def _jobs(spark, fn) -> int:
    import uuid

    sc = spark.sparkContext
    group = f"maint-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "count")
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group) or [])


def test_insert_probe_is_one_aggregate(spark, tmpdir_index):
    """insert_documents asks how many rows are new, how many collide
    with live docids and how many revive tombstoned ones in ONE
    aggregate. With three separate counts an insert into this index ran
    15 jobs, and 21 once tombstones existed."""
    cfg = build(spark, tmpdir_index)
    one = lambda d: spark.createDataFrame([{"docid": d, "t": "alpha new", "cat": "w"}])  # noqa: E731
    assert _jobs(spark, lambda: insert_documents(spark, tmpdir_index, cfg, one(30))) <= 13
    remove_documents(spark, tmpdir_index, cfg, spark.createDataFrame([(2,)], "docid long"))
    assert _jobs(spark, lambda: insert_documents(spark, tmpdir_index, cfg, one(31))) <= 14
    idx = SearchIndex.load(spark, tmpdir_index, cfg)
    assert idx.stats["docs_count"] == 6
    assert {r["docid"] for r in idx.search(term="alpha", limit=20).top_df().collect()} == {
        1, 3, 5, 30, 31,
    }


def test_update_parity(spark, tmpdir_index):
    cfg = build(spark, tmpdir_index)
    orc = oracle()
    update_documents(
        spark, tmpdir_index, cfg,
        spark.createDataFrame([{"docid": 3, "t": "alpha beta beta", "cat": "y"}]),
    )
    orc.update({"t": "alpha beta beta", "cat": "y"}, docid=3)
    idx = SearchIndex.load(spark, tmpdir_index, cfg)
    assert_match(idx, orc, "alpha")
    assert_match(idx, orc, "beta")
    assert idx.search(term="epsilon").count() == 0


def test_compaction_preserves_results(spark, tmpdir_index):
    cfg = build(spark, tmpdir_index)
    remove_documents(spark, tmpdir_index, cfg,
                     spark.createDataFrame([(1,)], "docid long"))
    insert_documents(
        spark, tmpdir_index, cfg,
        spark.createDataFrame([{"docid": 9, "t": "alpha sigma", "cat": "q"}]),
    )
    idx_before = SearchIndex.load(spark, tmpdir_index, cfg)
    before = [(r["docid"], round(r["score"], 9))
              for r in idx_before.search(term="alpha").top_df().collect()]
    compact(spark, tmpdir_index, cfg)
    idx_after = SearchIndex.load(spark, tmpdir_index, cfg)
    after = [(r["docid"], round(r["score"], 9))
             for r in idx_after.search(term="alpha").top_df().collect()]
    assert before == after
    import os
    assert not os.path.exists(f"{tmpdir_index}/tombstones")


def test_insert_only_compact_rewrites_only_the_dictionaries(spark, tmpdir_index):
    """With no tombstones pending, docs, tokens, postings and docmeta are
    already what a reader sees: compact leaves their files alone and
    folds the df deltas into the dictionaries."""
    import os

    cfg = build(spark, tmpdir_index)
    orc = oracle()
    new = {"docid": 9, "t": "alpha sigma", "cat": "q"}
    insert_documents(spark, tmpdir_index, cfg, spark.createDataFrame([new]))
    orc.insert({"t": new["t"], "cat": new["cat"]}, docid=9)

    def files():
        return {
            t: sorted(os.listdir(os.path.join(tmpdir_index, t)))
            for t in ("docs", "tokens", "postings", "docmeta")
        }

    before = files()
    compact(spark, tmpdir_index, cfg)
    assert files() == before
    assert not os.path.exists(f"{tmpdir_index}/dictionary_delta")
    assert_match(SearchIndex.load(spark, tmpdir_index, cfg), orc, "alpha sigma", threshold=0.0)


def test_torn_compact_leaves_the_index_as_it_was(spark, tmpdir_index, monkeypatch):
    """A compact that dies before its swap changes no table: the index
    answers as before, and a re-run compacts it. (The new dictionary
    has the df deltas summed in; swapped in while they stay, it would
    count them twice.)"""
    from orama_spark.build import maintenance

    cfg = build(spark, tmpdir_index)
    orc = oracle()
    remove_documents(spark, tmpdir_index, cfg, spark.createDataFrame([(2,)], "docid long"))
    orc.remove(2)

    def torn(*args):
        raise RuntimeError("torn")

    with monkeypatch.context() as m:
        m.setattr(maintenance, "dictionary_bylen_table", torn)
        with pytest.raises(RuntimeError, match="torn"):
            compact(spark, tmpdir_index, cfg)
    assert_match(SearchIndex.load(spark, tmpdir_index, cfg), orc, "alpha beta", threshold=0.0)
    compact(spark, tmpdir_index, cfg)
    assert_match(SearchIndex.load(spark, tmpdir_index, cfg), orc, "alpha beta", threshold=0.0)


def test_remove_nonexistent_is_noop(spark, tmpdir_index):
    """Reference remove returns false for unknown ids — stats must not
    drift (ADVICE r01: upserting m new docs left docs_count low by m)."""
    import json

    cfg = build(spark, tmpdir_index)
    with open(f"{tmpdir_index}/stats.json") as f:
        before = json.load(f)
    stats = remove_documents(
        spark, tmpdir_index, cfg, spark.createDataFrame([(99,), (100,)], "docid long")
    )
    assert stats == before
    idx = SearchIndex.load(spark, tmpdir_index, cfg)
    assert idx.search(term="alpha").count() == 4


def test_upsert_brand_new_docs_keeps_stats_exact(spark, tmpdir_index):
    from orama_spark.build.maintenance import upsert_documents

    cfg = build(spark, tmpdir_index)
    orc = oracle()
    new = [{"docid": 20, "t": "alpha rho", "cat": "w"},
           {"docid": 21, "t": "sigma tau upsilon", "cat": "w"}]
    upsert_documents(spark, tmpdir_index, cfg, spark.createDataFrame(new))
    for r in new:
        orc.insert({k: v for k, v in r.items() if k != "docid"}, docid=r["docid"])
    idx = SearchIndex.load(spark, tmpdir_index, cfg)
    assert idx.stats["docs_count"] == 7
    assert_match(idx, orc, "alpha")
    assert_match(idx, orc, "sigma")


def test_sparse_field_removal_leaves_other_avg_untouched(spark, tmpdir_index):
    """Docs lacking a field must not rescale that field's average
    (reference recurrence fires only for props on the doc)."""
    import json

    cfg = IndexConfig(schema={"t": "string", "u": "string"})
    rows = [
        {"docid": 1, "t": "alpha beta", "u": "kappa lambda mu"},
        {"docid": 2, "t": "gamma delta epsilon", "u": None},
        {"docid": 3, "t": "zeta", "u": None},
    ]
    df = spark.createDataFrame(rows)
    IndexBuilder(cfg, postings_partitions=2).build(df, tmpdir_index, input_id="sparse")
    with open(f"{tmpdir_index}/stats.json") as f:
        before = json.load(f)
    # remove doc 2 (has t, lacks u): u's average must be untouched
    remove_documents(spark, tmpdir_index, cfg,
                     spark.createDataFrame([(2,)], "docid long"))
    with open(f"{tmpdir_index}/stats.json") as f:
        after = json.load(f)
    assert after["fields"]["u"]["avg_field_length"] == before["fields"]["u"]["avg_field_length"]
    assert after["fields"]["u"]["docs_with_field"] == 1
    # t's average becomes the exact mean over remaining docs-with-t
    assert after["fields"]["t"]["avg_field_length"] == pytest.approx((2 + 1) / 2)


def test_allow_duplicates_df_parity(spark, tmpdir_index):
    """df must count token OCCURRENCES under allow_duplicates
    (index.ts:113-118) — scores match the oracle exactly."""
    from orama_spark.kernel.tokenizer import TokenizerConfig

    tok = TokenizerConfig(allow_duplicates=True)
    cfg = IndexConfig(schema={"t": "string"}, tokenizer=tok)
    rows = [
        {"docid": 1, "t": "alpha alpha alpha beta"},
        {"docid": 2, "t": "alpha beta beta"},
        {"docid": 3, "t": "gamma alpha"},
        {"docid": 4, "t": "delta"},
    ]
    IndexBuilder(cfg, postings_partitions=2).build(
        spark.createDataFrame(rows), tmpdir_index, input_id="dup"
    )
    orc = OramaOracle({"t": "string"}, tokenizer=tok)
    for r in rows:
        orc.insert({"t": r["t"]}, docid=r["docid"])
    idx = SearchIndex.load(spark, tmpdir_index, cfg)
    # df(alpha) = 5 occurrences, not 3 docs
    assert {
        (r["term"], r["df"]) for r in idx.dictionary.where("term = 'alpha'").collect()
    } == {("alpha", 5)}
    assert_match(idx, orc, "alpha")
    assert_match(idx, orc, "beta")
    # and maintenance keeps occurrence counting on remove
    remove_documents(spark, tmpdir_index, cfg,
                     spark.createDataFrame([(1,)], "docid long"))
    orc.remove(1)
    idx2 = SearchIndex.load(spark, tmpdir_index, cfg)
    assert_match(idx2, orc, "alpha")


def test_blockindex_refuses_pending_deltas(spark, tmpdir_index):
    from orama_spark.query.wand import BlockIndex

    cfg = build(spark, tmpdir_index)
    BlockIndex.build(spark, tmpdir_index, cfg)
    remove_documents(spark, tmpdir_index, cfg,
                     spark.createDataFrame([(2,)], "docid long"))
    with pytest.raises(ValueError, match="pending incremental"):
        BlockIndex.load(spark, tmpdir_index, cfg)
    compact(spark, tmpdir_index, cfg)
    BlockIndex.build(spark, tmpdir_index, cfg)  # rebuild after compact OK
    out = BlockIndex.load(spark, tmpdir_index, cfg).wand_topk("alpha", k=3).collect()
    assert all(r["docid"] != 2 for r in out)


def test_build_resume_skips_completed_stages(spark, tmpdir_index):
    cfg = build(spark, tmpdir_index)
    from orama_spark.build.manifest import BuildManifest

    df = spark.createDataFrame(ROWS)
    entries = IndexBuilder(cfg, postings_partitions=2).build(df, tmpdir_index, input_id="m")
    assert all(e.get("skipped") for e in entries.values()), "resume must skip all"


# ---------------------------------------------------------------- string[]
TAGS_SCHEMA = {"tags": "string[]", "cat": "enum"}
TAGS_ROWS = [
    {"docid": 1, "tags": ["red fox"], "cat": "x"},
    {"docid": 2, "tags": ["blue bird"], "cat": "x"},
    {"docid": 3, "tags": ["red wolf"], "cat": "y"},
    {"docid": 4, "tags": ["green frog"], "cat": "y"},
    {"docid": 5, "tags": ["red hen"], "cat": "z"},
]


def _tags_build(spark, out, rows):
    cfg = IndexConfig(schema=TAGS_SCHEMA)
    df = spark.createDataFrame(rows)
    IndexBuilder(cfg, postings_partitions=2).build(
        df, out, input_id=f"tags-{len(rows)}"
    )
    return cfg


def _tags_oracle(rows):
    db = OramaOracle(TAGS_SCHEMA)
    for r in rows:
        db.insert({k: v for k, v in r.items() if k != "docid"}, docid=r["docid"])
    return db


def test_string_array_incremental_insert_parity(spark, tmpdir_index):
    cfg = _tags_build(spark, tmpdir_index, TAGS_ROWS)
    orc = _tags_oracle(TAGS_ROWS)
    new = [
        {"docid": 10, "tags": ["red kite", "blue jay"], "cat": "w"},
        {"docid": 11, "tags": ["grey seal"], "cat": "w"},
    ]
    insert_documents(spark, tmpdir_index, cfg, spark.createDataFrame(new))
    for r in new:
        orc.insert({k: v for k, v in r.items() if k != "docid"}, docid=r["docid"])
    idx = SearchIndex.load(spark, tmpdir_index, cfg)
    assert_match(idx, orc, "red")
    assert_match(idx, orc, "blue")
    assert idx.stats["fields"]["tags"]["avg_field_length"] == pytest.approx(
        orc.avg_field_length["tags"], rel=1e-9
    )


def test_string_array_incremental_remove_parity(spark, tmpdir_index):
    # all arrays single-element -> removal telescopes exactly (and the
    # NaN quirk does not fire), rank+score parity with the oracle
    cfg = _tags_build(spark, tmpdir_index, TAGS_ROWS)
    orc = _tags_oracle(TAGS_ROWS)
    remove_documents(
        spark, tmpdir_index, cfg, spark.createDataFrame([(2,), (4,)], "docid long")
    )
    orc.remove(2)
    orc.remove(4)
    idx = SearchIndex.load(spark, tmpdir_index, cfg)
    assert_match(idx, orc, "red")
    assert idx.search(term="red").count() == 3


def test_string_array_remove_nan_quirk(spark, tmpdir_index):
    """Removing a doc whose array has >=2 elements poisons the field
    average to NaN — the reference's own behavior (index.ts:383-405
    clears fieldLengths on the first element, NaN on the second),
    replicated by both the Spark path and the oracle."""
    import math

    rows = TAGS_ROWS + [{"docid": 6, "tags": ["red kite", "blue jay"],
                         "cat": "w"}]
    cfg = _tags_build(spark, tmpdir_index, rows)
    orc = _tags_oracle(rows)
    remove_documents(
        spark, tmpdir_index, cfg, spark.createDataFrame([(6,)], "docid long")
    )
    orc.remove(6)
    idx = SearchIndex.load(spark, tmpdir_index, cfg)
    assert math.isnan(idx.stats["fields"]["tags"]["avg_field_length"])
    assert math.isnan(orc.avg_field_length["tags"])


# ------------------------------------------------------ table parity
def _table(spark, root, name):
    """A table's rows as a multiset, nested lists frozen to tuples."""
    from collections import Counter

    def freeze(v):
        return tuple(freeze(x) for x in v) if isinstance(v, list) else v

    return Counter(
        tuple(sorted((k, freeze(v)) for k, v in r.asDict(recursive=True).items()))
        for r in spark.read.parquet(f"{root}/{name}").collect()
    )


PARITY_CASES = {
    "scalar": (
        {"t": "string", "cat": "enum"},
        {},
        ROWS,
        [{"docid": 10, "t": "alpha nu xi", "cat": "w"},
         {"docid": 11, "t": "omega omicron alpha", "cat": "w"}],
    ),
    "string_array": (
        TAGS_SCHEMA,
        {},
        TAGS_ROWS + [{"docid": 6, "tags": ["red kite", "blue jay red"], "cat": "w"}],
        [{"docid": 10, "tags": ["red red", "grey seal", "red"], "cat": "w"},
         {"docid": 11, "tags": ["blue whale"], "cat": "x"},
         {"docid": 12, "tags": [], "cat": "x"}],
    ),
    "allow_duplicates": (
        {"t": "string"},
        {"allow_duplicates": True},
        [{"docid": 1, "t": "alpha alpha alpha beta"},
         {"docid": 2, "t": "alpha beta beta"},
         {"docid": 3, "t": "gamma alpha"},
         {"docid": 4, "t": "delta"}],
        [{"docid": 10, "t": "beta beta gamma"},
         {"docid": 11, "t": "alpha delta delta delta"}],
    ),
}


@pytest.mark.parametrize("case", sorted(PARITY_CASES))
def test_maintained_tables_equal_fresh_build(spark, tmp_path, case):
    """build(A) + insert(B) + remove(R) + compact writes the same tokens,
    postings, docmeta and dictionaries as a fresh build of (A ∪ B) \\ R."""
    from orama_spark.kernel.tokenizer import TokenizerConfig

    schema, tok, a_rows, b_rows = PARITY_CASES[case]
    cfg = IndexConfig(schema=schema, tokenizer=TokenizerConfig(**tok))
    removed = {2, 6, 10}
    maintained, fresh = str(tmp_path / "maintained"), str(tmp_path / "fresh")
    IndexBuilder(cfg, postings_partitions=2).build(
        spark.createDataFrame(a_rows), maintained, input_id="a")
    insert_documents(spark, maintained, cfg, spark.createDataFrame(b_rows))
    remove_documents(spark, maintained, cfg, spark.createDataFrame(
        [(d,) for d in sorted(removed)], "docid long"))
    compact(spark, maintained, cfg)
    kept = [r for r in a_rows + b_rows if r["docid"] not in removed]
    IndexBuilder(cfg, postings_partitions=2).build(
        spark.createDataFrame(kept, spark.createDataFrame(a_rows).schema),
        fresh, input_id="fresh")
    for name in ("tokens", "postings", "docmeta", "dictionary", "dictionary_bylen"):
        assert _table(spark, maintained, name) == _table(spark, fresh, name), name
