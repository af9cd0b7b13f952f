"""Reference-format persistence: save/load dumps + persist/restore formats.

Shape pins cite the reference serializers they mirror
(methods/serialization.ts:22-31, trees/*.ts toJSON, components/*.ts
save); the round-trip tests drive the full export -> payload ->
restore -> SearchIndex.load -> search path; the oracle cross-check
compares the distributed export's score parameters against the
sequential reference-semantics oracle on the same docs.
"""

import json
import math

import pytest
from pyspark.sql import functions as F

from orama_spark import persistence as P
from orama_spark.build.indexer import IndexBuilder
from orama_spark.config import IndexConfig, TokenizerConfig
from orama_spark.persistence.format import (
    build_avl,
    build_bkd,
    build_flat,
    build_radix,
    walk_avl,
    walk_bkd,
    walk_flat,
    walk_radix,
)
from orama_spark.persistence.msgpack_codec import decode, encode
from orama_spark.query.engine import SearchIndex

DOCS = [
    (1, "the quick brown fox jumps", 10, "a", True),
    (2, "quick blue hare runs fast", 25, "b", False),
    (3, "lazy dogs sleep all day quick", 7, "a", True),
    (4, "foxes and hares are quick animals", 99, "c", True),
    (5, "sleeping fox", 3, "b", False),
]
SCHEMA = {"title": "string", "views": "number", "cat": "enum",
          "ok": "boolean"}
# repeated tokens: under allow_duplicates 'spark' has 4 occurrences in 3
# docs and 'merge' 4 in 2
DUP_DOCS = [
    (1, "spark spark merge"),
    (2, "spark merge merge merge"),
    (3, "spark streaming join"),
    (4, "sort join shuffle"),
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):  # noqa: F811
    cfg = IndexConfig(schema=dict(SCHEMA), tokenizer=TokenizerConfig.full(),
                      docid_col="id")
    d = str(tmp_path_factory.mktemp("pidx"))
    df = spark.createDataFrame(DOCS, ["id", "title", "views", "cat", "ok"])
    IndexBuilder(cfg).build(df, d, input_id="persist-test")
    return d, cfg


# ------------------------------------------------------------- shapes

class TestMsgpack:
    def test_spec_example(self):
        # the canonical example from the public msgpack spec README:
        # {"compact":true,"schema":0} -> 82 a7 compact c3 a6 schema 00
        b = encode({"compact": True, "schema": 0})
        assert b.hex() == "82a7636f6d70616374c3a6736368656d6100"
        assert decode(b) == {"compact": True, "schema": 0}

    def test_scalar_forms(self):
        cases = [None, True, False, 0, 127, 128, 255, 256, 65535, 65536,
                 2**32, 2**63 - 1, -1, -32, -33, -128, -129, -32768,
                 -32769, -(2**31), -(2**63), 0.5, -1.25, 3.141592653589793,
                 "", "a" * 31, "b" * 32, "c" * 300, "日本語テキスト"]
        for c in cases:
            assert decode(encode(c)) == c, c

    def test_containers(self):
        obj = {"a": [1, [2.5, None], {"b": False}], "n": list(range(40)),
               "m": {str(i): i for i in range(20)}}
        assert decode(encode(obj)) == obj

    def test_float_integral_matches_js_number_semantics(self):
        # @msgpack/msgpack encodes integral JS numbers as ints
        assert decode(encode(5.0)) == 5
        assert isinstance(decode(encode(5.0)), int)
        assert decode(encode(5.5)) == 5.5


class TestTreeShapes:
    def test_radix_shape_pinned(self):
        # words sharing prefixes force the split path (radix.ts:129-155):
        # k = first char of edge label s, w = accumulated word, e/d at
        # word ends, c = [[char, node]...]
        dump = build_radix([("do", [2]), ("dog", [1, 3]), ("dot", [4])])
        assert dump["s"] == "" and dump["e"] is False
        (ch, do) = dump["c"][0]
        assert ch == "d" and do["s"] == "do" and do["k"] == "d"
        assert do["w"] == "do" and do["e"] is True and do["d"] == [2]
        kids = dict((k, n) for k, n in do["c"])
        assert kids["g"] == {"w": "dog", "s": "g", "e": True, "k": "g",
                             "d": [1, 3], "c": []}
        assert kids["t"]["w"] == "dot" and kids["t"]["d"] == [4]

    def test_radix_split_mid_edge(self):
        dump = build_radix([("spark", [1]), ("spoon", [2])])
        (_, sp) = dump["c"][0]
        assert sp["s"] == "sp" and sp["e"] is False and sp["d"] == []
        labels = sorted(n["s"] for _, n in sp["c"])
        assert labels == ["ark", "oon"]
        assert walk_radix(dump, []) == [("spark", [1]), ("spoon", [2])]

    def test_radix_walk_inverse(self):
        words = ["a", "ab", "abc", "abd", "b", "ba", "quick", "quilt"]
        dump = build_radix([(w, [i + 1]) for i, w in enumerate(words)])
        assert sorted(walk_radix(dump, [])) == sorted(
            (w, [i + 1]) for i, w in enumerate(words)
        )

    def test_avl_valid_and_walkable(self):
        items = [(float(k), [k]) for k in range(1, 32)]
        dump = build_avl(items)

        def check(n):
            if not n:
                return 0
            lh, rh = check(n.get("l")), check(n.get("r"))
            assert abs(lh - rh) <= 1, "unbalanced"
            assert n["h"] == 1 + max(lh, rh), "height convention (leaf=1)"
            return n["h"]

        check(dump["root"])
        assert walk_avl(dump, []) == items

    def test_flat_bool_bkd(self):
        f = build_flat([("a", [1, 2]), ("b", [3])])
        assert f == {"numberToDocumentId": [["a", [1, 2]], ["b", [3]]]}
        assert walk_flat(f) == [("a", [1, 2]), ("b", [3])]
        bk = build_bkd([(9.1, 45.4, [1]), (2.3, 48.8, [2]), (-0.1, 51.5, [3])])
        pts = walk_bkd(bk, [])
        assert sorted(pts) == [(-0.1, 51.5, [3]), (2.3, 48.8, [2]),
                               (9.1, 45.4, [1])]
        assert set(bk["root"].keys()) == {"point", "docIDs", "left", "right"}


# --------------------------------------------------------------- dump

class TestSaveDump:
    def test_rawdata_shape(self, spark, built):  # noqa: F811
        d, cfg = built
        dump = P.save_dump(spark, d, cfg)
        # methods/serialization.ts:22-31
        assert set(dump.keys()) == {
            "internalDocumentIDStore", "index", "docs", "sorting",
            "pinning", "language",
        }
        assert dump["internalDocumentIDStore"]["internalIdToId"] == [
            "1", "2", "3", "4", "5"
        ]
        assert dump["docs"]["count"] == 5
        assert dump["docs"]["docs"]["1"]["title"] == DOCS[0][1]
        assert dump["language"] == "english"
        assert dump["sorting"] == {"enabled": False}
        assert dump["pinning"] == {"rules": []}
        idx = dump["index"]
        assert idx["searchableProperties"] == ["title"]
        assert idx["indexes"]["title"]["type"] == "Radix"
        assert idx["indexes"]["title"]["isArray"] is False
        assert idx["indexes"]["views"]["type"] == "AVL"
        assert idx["indexes"]["cat"]["type"] == "Flat"
        assert idx["indexes"]["ok"]["type"] == "Bool"
        assert idx["indexes"]["ok"]["node"] == {"true": [1, 3, 4],
                                                "false": [2, 5]}

    def test_score_parameters_match_reference_oracle(self, spark, built):  # noqa: F811
        """frequencies/fieldLengths/avgFieldLength in the dump equal the
        sequential reference-semantics oracle's state for the same docs
        (components/index.ts:86-118)."""
        from orama_spark.oracle.engine import OramaOracle

        d, cfg = built
        dump = P.save_dump(spark, d, cfg)
        oracle = OramaOracle(dict(SCHEMA), tokenizer=cfg.tokenizer)
        for row in DOCS:
            oracle.insert(dict(zip(["id", "title", "views", "cat", "ok"],
                                   row)), docid=row[0])
        idx = dump["index"]
        assert idx["avgFieldLength"]["title"] == pytest.approx(
            oracle.avg_field_length["title"], rel=1e-12
        )
        for iid, length in oracle.field_lengths["title"].items():
            assert idx["fieldLengths"]["title"][str(iid)] == length
        for iid, by_tok in oracle.frequencies["title"].items():
            got = idx["frequencies"]["title"][str(iid)]
            assert set(got) == set(by_tok)
            for tok, tf in by_tok.items():
                assert got[tok] == pytest.approx(tf, rel=1e-12)

    def test_token_occurrences_are_df(self, spark, built):  # noqa: F811
        d, cfg = built
        dump = P.save_dump(spark, d, cfg)
        occ = dump["index"]["tokenOccurrences"]["title"]
        assert occ["quick"] == 4  # docs 1-4 (dedup tokenizer: df)
        assert occ["fox"] == 3  # docs 1, 4 ('foxes' stems to 'fox'), 5

    def test_token_occurrences_count_array_elements(self, spark, tmp_path):  # noqa: F811
        """A string[] doc counts a token once per element that holds it
        (the reference inserts each element), so 'red' is 4, not 2 docs."""
        from orama_spark.oracle.engine import OramaOracle

        cfg = IndexConfig(schema={"tags": "string[]"}, docid_col="id")
        rows = [(1, ["red fox", "red hen"]), (2, ["blue jay"]),
                (3, ["red", "fox red"])]
        d = str(tmp_path / "arr")
        IndexBuilder(cfg).build(spark.createDataFrame(rows, ["id", "tags"]), d,
                                input_id="persist-arr")
        orc = OramaOracle({"tags": "string[]"})
        for i, tags in rows:
            orc.insert({"tags": tags}, docid=i)
        occ = P.save_dump(spark, d, cfg)["index"]["tokenOccurrences"]["tags"]
        assert occ == orc.token_occurrences["tags"]
        assert occ["red"] == 4

    def test_export_guards(self, spark, built):  # noqa: F811
        d, cfg = built
        with pytest.raises(ValueError, match="max_docs"):
            P.save_dump(spark, d, cfg, max_docs=2)
        with pytest.raises(ValueError, match="max_postings"):
            P.save_dump(spark, d, cfg, max_postings=3)


# ---------------------------------------------------------- round trip

class TestRoundTrip:
    @pytest.mark.parametrize("fmt", ["json", "binary"])
    def test_search_identical_after_restore(self, spark, built, tmp_path,  # noqa: F811
                                            fmt):
        d, cfg = built
        payload = P.persist(spark, d, cfg, format=fmt)
        out = str(tmp_path / f"restored_{fmt}")
        P.restore(spark, payload, out, cfg, format=fmt, mode="verbatim")
        a = SearchIndex.load(spark, d, cfg)
        b = SearchIndex.load(spark, out, cfg)
        for term, kw in [("quick fox", {}), ("sleep", {}),
                         ("qui", {}), ("serch quick", {"tolerance": 1}),
                         ("quick", {"where": {"ok": {"eq": True}}})]:
            ra = a.search(term=term, limit=10, **kw).top_df().collect()
            rb = b.search(term=term, limit=10, **kw).top_df().collect()
            assert [(r["docid"], round(r["score"], 12)) for r in ra] == \
                   [(r["docid"], round(r["score"], 12)) for r in rb], term

    @pytest.mark.parametrize("case", ["default", "allow_duplicates"])
    def test_rebuild_mode_equals_verbatim(self, spark, built, tmp_path,  # noqa: F811
                                          case):
        """Verbatim restore writes the same postings and both dictionaries
        as a rebuild, and ranks identically. Under allow_duplicates a
        term's df is its occurrence count, not its document count."""
        if case == "default":
            d, cfg = built
            queries = ["quick fox", "sleep", "qui"]
        else:
            cfg = IndexConfig(schema={"title": "string"},
                              tokenizer=TokenizerConfig(allow_duplicates=True),
                              docid_col="id")
            d = str(tmp_path / "dup")
            IndexBuilder(cfg).build(
                spark.createDataFrame(DUP_DOCS, ["id", "title"]), d,
                input_id="persist-dup")
            queries = ["spark merge", "merge", "spark join"]
        dump = P.save_dump(spark, d, cfg)
        v = str(tmp_path / "v")
        r = str(tmp_path / "r")
        P.restore_index(spark, dump, v, cfg, mode="verbatim")
        P.restore_index(spark, dump, r, cfg, mode="rebuild")

        def table(root, name, cols):
            return sorted(
                tuple(round(x[c], 12) if c == "tf" else x[c] for c in cols)
                for x in spark.read.parquet(f"{root}/{name}").collect())

        for name, cols in [
            ("postings", ["field", "term", "docid", "tf", "field_len", "occ"]),
            ("dictionary", ["field", "term", "df"]),
            ("dictionary_bylen", ["field", "term_len", "term", "df"]),
        ]:
            assert table(v, name, cols) == table(r, name, cols), name
        iv = SearchIndex.load(spark, v, cfg)
        ir = SearchIndex.load(spark, r, cfg)
        for term in queries:
            hv = iv.search(term=term, limit=10).top_df().collect()
            hr = ir.search(term=term, limit=10).top_df().collect()
            assert hv, term
            assert [x["docid"] for x in hv] == [x["docid"] for x in hr], term
            for x, y in zip(hv, hr):
                assert x["score"] == pytest.approx(y["score"], rel=1e-12), term

    def test_stats_survive(self, spark, built, tmp_path):  # noqa: F811
        d, cfg = built
        dump = P.save_dump(spark, d, cfg)
        out = str(tmp_path / "s")
        P.restore_index(spark, dump, out, cfg)
        a = SearchIndex.load(spark, d, cfg)
        b = SearchIndex.load(spark, out, cfg)
        assert b.stats["docs_count"] == a.stats["docs_count"]
        assert b.stats["fields"]["title"]["avg_field_length"] == \
            pytest.approx(a.stats["fields"]["title"]["avg_field_length"],
                          rel=1e-12)

    def test_tombstones_composed_into_export(self, spark, tmp_path):  # noqa: F811
        """save_dump exports the LOGICAL state: a removed doc is absent
        from every component of the dump, exactly as the reference's
        save-after-remove would be."""
        from orama_spark.build.maintenance import remove_documents

        cfg = IndexConfig(schema={"title": "string"},
                          tokenizer=TokenizerConfig.full(), docid_col="id")
        d = str(tmp_path / "tomb")
        df = spark.createDataFrame(
            [(i, t) for i, t, *_ in DOCS], ["id", "title"]
        )
        IndexBuilder(cfg).build(df, d, input_id="tomb-test")
        remove_documents(spark, d, cfg,
                         spark.createDataFrame([(2,)], ["docid"]))
        dump = P.save_dump(spark, d, cfg)
        assert dump["internalDocumentIDStore"]["internalIdToId"] == [
            "1", "3", "4", "5"
        ]
        assert dump["docs"]["count"] == 4
        for _, ids in walk_radix(dump["index"]["indexes"]["title"]["node"],
                                 []):
            # internal id 2 would be doc 3 now; original doc 2's terms
            # ('blue', 'hare'...) must not be reachable with its ids
            assert all(1 <= i <= 4 for i in ids)
        blue = [ids for t, ids in
                walk_radix(dump["index"]["indexes"]["title"]["node"], [])
                if t == "blue"]
        assert blue == []  # only doc 2 had 'blue'


class TestVectorAndSorting:
    def test_vector_index_dump(self, spark, tmp_path):  # noqa: F811
        cfg = IndexConfig(
            schema={"title": "string", "emb": "vector[4]"},
            tokenizer=TokenizerConfig.plain(), docid_col="id",
        )
        d = str(tmp_path / "vidx")
        df = spark.createDataFrame(
            [(1, "alpha doc", [1.0, 0.0, 0.0, 0.0]),
             (2, "beta doc", [0.5, 0.5, 0.5, 0.5])],
            ["id", "title", "emb"],
        )
        IndexBuilder(cfg).build(df, d, input_id="vec-test")
        dump = P.save_dump(spark, d, cfg)
        v = dump["index"]["vectorIndexes"]["emb"]
        assert v["size"] == 4
        by_id = {iid: mv for iid, mv in v["vectors"]}
        assert by_id[1][0] == pytest.approx(1.0)
        assert by_id[2][0] == pytest.approx(math.sqrt(1.0), rel=1e-6)

    def test_sorter_dump_shape(self, spark, built):  # noqa: F811
        d, cfg = built
        dump = P.save_dump(spark, d, cfg, sortable_props=["views"])
        s = dump["sorting"]
        assert s["enabled"] is True and s["isSorted"] is True
        vs = s["sorts"]["views"]
        assert vs["type"] == "number"
        assert [v for _, v in vs["orderedDocs"]] == sorted(
            [r[2] for r in DOCS]
        )
        # docs maps internal id -> rank in orderedDocs (sorter.ts:149-204)
        for rank, (iid, _) in enumerate(vs["orderedDocs"]):
            assert vs["docs"][str(iid)] == rank
