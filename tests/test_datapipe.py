"""Tests for training-data pipeline operators: dedup family, similarity,
text analysis, multimodal plumbing. Oracles are computed in plain Python
on the same small corpora."""

import hashlib
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from orama_spark.datapipe import dedup, multimodal, similarity, text_quality


def encode_png_palette(
    idx: np.ndarray, palette: np.ndarray, interlace: bool = False
) -> bytes:
    """(H, W) uint8 palette indices + (N, 3) palette -> color-type-3
    PNG (for decode_png's palette path)."""
    import zlib

    h, w = idx.shape
    a = idx.astype(np.int64)
    if interlace:
        parts = []
        for x0, y0, dx, dy in multimodal._ADAM7:
            sub = a[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            parts.append(multimodal._png_filter_rows(sub, 1, 0))
        body = b"".join(parts)
    else:
        body = multimodal._png_filter_rows(a, 1, 0)
    ihdr = (
        np.array([w, h], dtype=">u4").tobytes()
        + bytes([8, 3, 0, 0, int(interlace)])
    )
    return (
        multimodal._PNG_SIG + multimodal._png_chunk(b"IHDR", ihdr)
        + multimodal._png_chunk(b"PLTE", palette.astype(np.uint8).tobytes())
        + multimodal._png_chunk(b"IDAT", zlib.compress(body))
        + multimodal._png_chunk(b"IEND", b"")
    )


def encode_ppm(arr: np.ndarray) -> bytes:
    """(H, W, 3) uint8 -> binary P6 PPM bytes."""
    h, w = arr.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + arr.astype(np.uint8).tobytes()


def synth_media_df(spark, n_rows: int = 64, seed: int = 5):
    """Deterministic synthetic media table (payload = seeded bytes;
    metadata consistent with kind)."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n_rows):
        h = hashlib.sha256(f"{seed}:{i}".encode()).digest()
        kind = kinds[i % 3]
        rows.append(
            {
                "media_id": i,
                "kind": kind,
                "mime": {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}[kind],
                "payload": bytes(h * 4),
                "width": 64 + (h[0] % 64) if kind != "audio" else None,
                "height": 64 + (h[1] % 64) if kind != "audio" else None,
                "duration_ms": 1000 + h[2] * 37 if kind != "image" else None,
            }
        )
    return spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),          # exact dup of 0
        (2, "the quick brown fox jumps over the very lazy dog"),     # near dup
        (3, "completely different content about spark and parquet"),
        (4, "spark and parquet power large scale data processing"),
        (5, "the quick brown fox jumps over the lazy cat"),          # near dup
        (6, "short text"),
        (7, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _jaccard_tokens(a, b, n=3):
    def sh(t):
        toks = t.split()
        return {" ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 0))}

    sa, sb = sh(a), sh(b)
    if not sa or not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)


class TestExactDedup:
    def test_groups(self, docs):
        out = dedup.exact_duplicates(docs).collect()
        assert len(out) == 1
        g = out[0]
        assert g["dup_count"] == 2 and g["keep_id"] == 0 and g["all_ids"] == [0, 1]


class TestNgramJaccard:
    def test_exact_pairs_vs_python(self, docs, spark):
        rows = {r["doc_id"]: r["text"] for r in docs.collect()}
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()
        }
        want = {}
        ids = sorted(rows)
        for i in ids:
            for j in ids:
                if i < j:
                    jc = _jaccard_tokens(rows[i], rows[j])
                    if jc >= 0.3:
                        want[(i, j)] = jc
        assert set(got) == set(want)
        for k in got:
            assert got[k] == pytest.approx(want[k], rel=1e-9)


class TestMinHash:
    def test_exact_dups_have_identical_signatures(self, docs):
        sigs = {r["id"]: r["sig"] for r in dedup.minhash_signatures(docs).collect()}
        assert sigs[0] == sigs[1]
        # near-dup signatures mostly agree
        agree = sum(a == b for a, b in zip(sigs[0], sigs[2])) / len(sigs[0])
        assert agree > 0.5
        # unrelated docs mostly disagree
        agree_far = sum(a == b for a, b in zip(sigs[0], sigs[3])) / len(sigs[0])
        assert agree_far < 0.3

    def test_lsh_finds_near_dups(self, docs):
        pairs = {
            (r["id_a"], r["id_b"]): r["est_jaccard"]
            for r in dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()
        }
        assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
        assert (0, 2) in pairs or (1, 2) in pairs


class TestSimHash:
    def test_pairs(self, docs):
        sh = {r["id"]: r["simhash"] for r in dedup.simhash64(docs).collect()}
        assert sh[0] == sh[1]  # identical text -> identical simhash

        def ham(a, b):
            return bin((a ^ b) & ((1 << 64) - 1)).count("1")

        assert ham(sh[0], sh[2]) < ham(sh[0], sh[3])
        got = {(r["id_a"], r["id_b"]) for r in dedup.simhash_pairs(docs, max_hamming=3).collect()}
        assert (0, 1) in got

    def test_bit63_sign_consistency(self, spark):
        # any text exercising the sign bit must produce a stable long
        df = spark.createDataFrame([(0, "z " * 50)], "doc_id long, text string")
        out = dedup.simhash64(df).collect()[0]["simhash"]
        assert isinstance(out, int)


class TestEmbeddingDedup:
    def test_near_duplicate_vectors(self, spark):
        rng = np.random.default_rng(1)
        base = rng.standard_normal(16)
        rows = [
            (0, base.tolist()),
            (1, (base + 0.001 * rng.standard_normal(16)).tolist()),  # near dup
            (2, rng.standard_normal(16).tolist()),
            (3, (-base).tolist()),                                   # anti-correlated
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in dedup.embedding_dup_pairs(emb, threshold=0.99).collect()
        }
        assert set(got) == {(0, 1)}
        assert got[(0, 1)] > 0.999


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        rng = np.random.default_rng(2)
        rows = [(i, rng.standard_normal(16).tolist()) for i in range(200)]
        self.__class__._rows = rows
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_brute_force_matches_numpy(self, emb):
        rows = self._rows
        q = rows[0][1]
        got = [(r["id"], r["cosine"]) for r in similarity.brute_force_topk(emb, q, k=5).collect()]
        qv = np.array(q, dtype=np.float32).astype(np.float64)
        sims = []
        for i, v in rows:
            a = np.array(v, dtype=np.float32).astype(np.float64)
            sims.append((i, float(qv @ a / (np.linalg.norm(qv) * np.linalg.norm(a)))))
        sims.sort(key=lambda t: (-round(t[1], 6), t[0]))
        want = [(i, round(s, 6)) for i, s in sims[:5]]
        assert [g[0] for g in got] == [w[0] for w in want]

    def test_ivf_probes_subset_and_finds_top1(self, emb):
        q = self._rows[7][1]
        assigned, cents = similarity.ivf_build(emb, n_centroids=8)
        got = similarity.ivf_topk(assigned, cents, q, k=1, nprobe=3).collect()
        assert got[0]["id"] == 7  # the vector itself lives in a probed bucket

    def test_ivf_write_partition_pruning(self, emb, spark, tmpdir_index):
        """Persisted IVF index partitioned by centroid: a probe query's
        scan must carry PartitionFilters on `centroid` (directory-level
        pruning — unprobed buckets never open a file) and return the
        same results as the in-memory path."""
        import contextlib
        import io

        q = self._rows[7][1]
        assigned, cents = similarity.ivf_build(emb, n_centroids=8, init="by_id")
        want = [(r["id"], r["cosine"]) for r in
                similarity.ivf_topk(assigned, cents, q, k=3, nprobe=3).collect()]
        similarity.ivf_write(assigned, cents, tmpdir_index)
        loaded, cents2 = similarity.ivf_load(spark, tmpdir_index)
        out_df = similarity.ivf_topk(loaded, cents2, q, k=3, nprobe=3)
        got = [(r["id"], r["cosine"]) for r in out_df.collect()]
        assert got == want
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            out_df.explain(mode="formatted")
        plan = buf.getvalue()
        assert "PartitionFilters" in plan and "centroid" in plan

    def test_hyperplane_topk_high_recall(self, emb):
        q = self._rows[3][1]
        exact = {r["id"] for r in similarity.brute_force_topk(emb, q, k=5).collect()}
        approx = {r["id"] for r in similarity.hyperplane_topk(emb, q, k=5, pool=100).collect()}
        assert len(exact & approx) >= 3


class TestTextQuality:
    def test_token_stats(self, docs):
        out = {r["id"]: r for r in text_quality.token_stats(docs).collect()}
        assert out[0]["n_tokens"] == 9
        assert out[0]["n_unique_tokens"] == 8  # 'the' twice
        assert out[7]["n_tokens"] == 0

    def test_quality_score_bounds_and_determinism(self, docs):
        a = {r["id"]: r["quality"] for r in text_quality.quality_score(docs).collect()}
        b = {r["id"]: r["quality"] for r in text_quality.quality_score(docs).collect()}
        assert a == b
        assert all(0.0 <= v <= 1.0 for v in a.values())

    def test_lang_id(self, spark):
        rows = [
            (0, "the cat is in the house and it is warm"),
            (1, "der Hund ist nicht mit der Katze auf dem Sofa"),
            (2, "le chat est dans la maison pour la nuit"),
            (3, "el perro es grande y la casa es blanca"),
            (4, "xyzzy plugh qwerty"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["id"]: r["lang_pred"] for r in text_quality.lang_id(df).collect()}
        assert out[0] == "en" and out[1] == "de" and out[2] == "fr" and out[3] == "es"
        assert out[4] == "und"

    def test_winnowing_subset_invariance(self, spark):
        # identical docs -> identical fingerprints; shared long substring
        # -> overlapping fingerprints
        rows = [
            (0, "abcdefghijklmnopqrstuvwxyz0123456789"),
            (1, "abcdefghijklmnopqrstuvwxyz0123456789"),
            (2, "PREFIX abcdefghijklmnopqrstuvwxyz0123456789 SUFFIX"),
            (3, "totally unrelated content here"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        fp = {r["id"]: set(r["fingerprints"]) for r in text_quality.winnowing_fingerprints(df).collect()}
        assert fp[0] == fp[1]
        assert len(fp[0] & fp[2]) > len(fp[0]) * 0.5
        assert not (fp[0] & fp[3])


class TestMultimodal:
    def test_feature_extraction_stub(self, spark):
        media = synth_media_df(spark, 12)
        feats = multimodal.extract_features(media, strict=False).collect()
        assert len(feats) == 12
        for r in feats:
            assert len(r["feature"]) == 8
            assert all(0.0 <= x <= 1.0 for x in r["feature"])

    def test_strict_mode_raises(self, spark):
        media = synth_media_df(spark, 3)
        with pytest.raises(Exception):
            multimodal.extract_features(media, strict=True).collect()


class TestGopherRules:
    """gopher_rules: hand-computed expectations per rule on crafted docs."""

    @pytest.fixture(scope="class")
    def crafted(self, spark):
        good = " ".join(
            ["the", "be", "to", "of", "and", "that", "have", "with"]
            + ["wonderful" if i % 3 else "document" for i in range(60)]
        )
        rows = [
            (0, good),                                   # passes everything
            (1, "tiny doc of the and"),                  # fails word count
            (2, good + " " + " ".join(["..."] * 30)),    # fails symbol ratio
            (3, "\n".join("- item %d of the and have that be to with list entry" % i
                          for i in range(60))),          # fails bullet lines
            (4, "\n".join([good[:80] + "..."] * 60)),    # fails ellipsis + dup lines
            (5, " ".join(["12345 67890 !!!!!"] * 40)),   # fails alpha + stopwords
            (6, None),                                   # null text
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_flags(self, crafted):
        out = {
            r["id"]: r.asDict()
            for r in text_quality.gopher_rules(crafted).collect()
        }
        assert out[0]["gopher_pass"] == 1
        assert all(v == 1 for k, v in out[0].items() if k.startswith("ok_"))
        assert out[1]["ok_word_count"] == 0 and out[1]["gopher_pass"] == 0
        assert out[2]["ok_symbol_ratio"] == 0
        assert out[3]["ok_bullet_lines"] == 0
        assert out[3]["bullet_ratio"] == 1.0
        assert out[4]["ok_ellipsis_lines"] == 0
        assert out[4]["ok_dup_lines"] == 0
        # 60 identical lines -> 59/60 duplicates
        assert abs(out[4]["dup_line_ratio"] - 59 / 60) < 1e-6
        assert out[5]["ok_alpha_words"] == 0 and out[5]["ok_stopwords"] == 0
        assert out[6]["n_words"] == 0 and out[6]["gopher_pass"] == 0

    def test_symbol_counting_matches_python(self, crafted):
        out = {r["id"]: r for r in text_quality.gopher_rules(crafted).collect()}
        t = "# heading ... more … and #tag...."
        n_words = len(t.split())
        expected = t.count("#") + t.count("...") + t.count("…")
        row = (
            text_quality.gopher_rules(
                crafted.sparkSession.createDataFrame(
                    [(99, t)], "doc_id long, text string"
                )
            )
            .collect()[0]
        )
        assert abs(row["symbol_ratio"] - expected / n_words) < 1e-6


class TestDuplicateParagraphs:
    def test_cross_doc_paragraph_dups(self, spark):
        boiler = "subscribe to our newsletter for weekly updates on everything"
        rows = [
            (0, "unique article body one with enough characters\n\n" + boiler),
            (1, boiler + "\n\nanother distinct article body also long enough"),
            (2, "third page reusing nothing from the others at all here"),
            (3, boiler + "  \n\nshort\n\n" + boiler),  # boiler twice in one doc
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = dedup.duplicate_paragraphs(docs, min_len=30).collect()
        assert len(out) == 1
        row = out[0]
        assert row["para_hash"] == hashlib.md5(boiler.encode()).hexdigest()
        assert row["n_docs"] == 3          # docs 0, 1, 3
        assert row["n_occurrences"] == 4   # doc 3 contains it twice
        assert row["first_doc_id"] == 0

    def test_min_len_and_trim(self, spark):
        docs = spark.createDataFrame(
            [(0, "  padded paragraph with surrounding spaces here ok \n\nshort"),
             (1, "padded paragraph with surrounding spaces here ok\n\nshort")],
            "doc_id long, text string",
        )
        out = dedup.duplicate_paragraphs(docs, min_len=30).collect()
        # trim makes the padded/unpadded paragraphs identical; 'short' is
        # below min_len and never aggregated
        assert len(out) == 1 and out[0]["n_docs"] == 2


class TestRepetitionStats:
    def test_hand_computed(self, spark):
        rows = [
            # "a b a b": top 2-gram 'a b' x2 (3 chars), canon 7 chars;
            # 3-grams 'a b a'/'b a b' tie -> lexicographically largest
            # 'b a b' (5 chars, count 1)
            (0, "a b a b"),
            # two identical lines of 3 chars each
            (1, "x y\nx y"),
            # doubled 5-gram: "p q r s t p q r s t p q r s t" has
            # dup 5-grams
            (2, " ".join(["p q r s t"] * 3)),
            (3, None),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        from orama_spark.datapipe.text_quality import repetition_stats

        out = {r["id"]: r.asDict() for r in repetition_stats(docs).collect()}

        assert out[0]["top_2gram_char_fraction"] == pytest.approx(2 * 3 / 7, abs=1e-6)
        assert out[0]["top_3gram_char_fraction"] == pytest.approx(1 * 5 / 7, abs=1e-6)
        assert out[0]["dup_line_fraction"] == 0.0

        assert out[1]["dup_line_fraction"] == pytest.approx(0.5, abs=1e-6)
        # one excess occurrence of 'x y' (3 chars) over 6 total line chars
        assert out[1]["dup_line_char_fraction"] == pytest.approx(3 / 6, abs=1e-6)

        # 15 tokens -> 11 5-grams; 'p q r s t p q r s t p q r s t':
        # each distinct 5-gram window repeats; excess chars > 0
        assert out[2]["dup_5gram_char_fraction"] > 0.5
        assert out[3]["dup_line_fraction"] == 0.0  # null text -> 1 empty line

    def test_python_oracle_parity(self, spark):
        # brute-force Python recomputation on the fixture corpus slice
        import re
        from collections import Counter

        texts = [
            "the quick brown fox the quick brown fox",
            "alpha beta\nalpha beta\ngamma",
            "one two three four five six seven",
        ]
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        from orama_spark.datapipe.text_quality import repetition_stats

        out = {r["id"]: r.asDict() for r in repetition_stats(docs).collect()}
        ws = re.compile(r"[\t\n\f\r ]+")
        for i, t in enumerate(texts):
            canon = ws.sub(" ", t.strip(" "))
            toks = canon.split(" ")
            cnt2 = Counter(
                " ".join(toks[j : j + 2]) for j in range(len(toks) - 1)
            )
            c, g = max((c, g) for g, c in cnt2.items())
            assert out[i]["top_2gram_char_fraction"] == pytest.approx(
                c * len(g) / len(canon), abs=1e-6
            )


class TestUrlOps:
    def test_normalize_rules(self):
        from orama_spark.datapipe.urls import normalize_url as nu

        assert nu("HTTP://Example.COM:80/a?utm_source=x&q=1#f") == "http://example.com/a?q=1"
        assert nu("https://Host.io:443/p") == "https://host.io/p"
        assert nu("https://host.io:8443/p") == "https://host.io:8443/p"  # non-default kept
        assert nu("http://h/p?gclid=1&fbclid=2&keep=3") == "http://h/p?keep=3"
        assert nu("http://h/p?utm_a=1&utm_b=2") == "http://h/p"  # empty query -> no '?'
        assert nu("http://u:pw@H.io/p") == "http://u:pw@h.io/p"  # userinfo preserved
        assert nu("http://h/A/B") == "http://h/A/B"  # path case preserved
        assert nu("http://h/p?b=2&a=1") == "http://h/p?b=2&a=1"  # order preserved
        assert nu("") == ""
        assert nu("not a url") == "not a url"

    def test_dedup_and_domains(self, spark):
        from orama_spark.datapipe.urls import domain_stats, url_dedup

        rows = [
            (0, "HTTP://A.com/x?utm_s=1"),
            (1, "http://a.COM:80/x"),
            (2, "http://a.com/y"),
            (3, "https://b.org/x"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, url string")
        groups = url_dedup(df).collect()
        assert len(groups) == 1
        assert groups[0]["url_norm"] == "http://a.com/x"
        assert groups[0]["dup_count"] == 2 and groups[0]["keep_doc_id"] == 0

        hosts = {r["host"]: r["n_docs"] for r in domain_stats(df).collect()}
        assert hosts == {"a.com": 3, "b.org": 1}

    def test_host_extraction_is_codegen(self, spark):
        # host_col must stay a pure Column expression: no BatchEvalPython
        # / ArrowEvalPython in the plan
        from orama_spark.datapipe.urls import domain_stats

        df = spark.createDataFrame([(0, "https://x.io/a")], "doc_id long, url string")
        plan = domain_stats(df)._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan, plan


class TestDeterministicSampling:
    def test_stable_under_partitioning(self, spark):
        from orama_spark.datapipe.sampling import hash_sample

        df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
        a = {r["doc_id"] for r in hash_sample(df, 0.25).collect()}
        b = {r["doc_id"] for r in hash_sample(df.repartition(13), 0.25).collect()}
        assert a == b and len(a) > 0

    def test_nested_rates_are_subsets(self, spark):
        # threshold sampling: the 10% sample is a subset of the 30% one
        # (the property that makes downsampling reproducible)
        from orama_spark.datapipe.sampling import hash_sample

        df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
        s10 = {r["doc_id"] for r in hash_sample(df, 0.10).collect()}
        s30 = {r["doc_id"] for r in hash_sample(df, 0.30).collect()}
        assert s10 <= s30
        assert abs(len(s30) / 2000 - 0.30) < 0.05

    def test_stratified_rates(self, spark):
        from orama_spark.datapipe.sampling import stratified_sample

        df = spark.range(0, 3000).selectExpr(
            "id AS doc_id",
            "CASE WHEN id % 3 = 0 THEN 'a' WHEN id % 3 = 1 THEN 'b' ELSE 'c' END AS s",
        )
        out = stratified_sample(df, {"a": 1.0, "b": 0.2, "c": 0.0}, "s")
        counts = {r["s"]: r["n"] for r in out.groupBy("s").agg(
            __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
        ).collect()}
        assert counts.get("a") == 1000
        assert "c" not in counts
        assert 120 < counts.get("b", 0) < 280


class TestPiiScrub:
    def test_detection_and_redaction(self, spark):
        from orama_spark.datapipe.pii import pii_stats

        rows = [
            (0, "mail a.b+c@x.co.uk and 192.168.0.1 call 555-123-4567"),
            (1, "no pii here, just 1.2 version and a date 2024-01-02"),
            (2, "two mails: a@b.io c@d.org; ip 10.0.0.300 is NOT valid? it still matches digits"),
            (3, None),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["id"]: r.asDict() for r in pii_stats(df).collect()}

        assert (out[0]["n_email"], out[0]["n_ipv4"], out[0]["n_phone"]) == (1, 1, 1)
        assert out[0]["redacted"] == "mail <EMAIL> and <IP> call <PHONE>"
        assert out[0]["has_pii"] == 1

        assert out[1]["has_pii"] == 0
        assert out[1]["redacted"].startswith("no pii here")
        # 2024-01-02 must NOT be eaten by the phone pattern (3-3-4 only)
        assert "2024-01-02" in out[1]["redacted"]

        assert out[2]["n_email"] == 2
        assert out[3]["has_pii"] == 0 and out[3]["redacted"] == ""

    def test_pure_codegen_plan(self, spark):
        # detection + redaction must involve NO Python eval at all
        from orama_spark.datapipe.pii import pii_stats

        df = spark.createDataFrame([(0, "x@y.io")], "doc_id long, text string")
        plan = pii_stats(df)._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan and "MapInPandas" not in plan, plan


class TestBlocklist:
    def test_filter_and_broadcast_plan(self, spark):
        from orama_spark.datapipe.urls import filter_blocked_hosts

        docs = spark.createDataFrame(
            [(0, "https://Bad.com/x"), (1, "https://good.org/y"),
             (2, "http://bad.com:80/z"), (3, "https://also-good.io/q")],
            "doc_id long, url string",
        )
        blocked = spark.createDataFrame([("BAD.com",)], "host string")
        kept = filter_blocked_hosts(docs, blocked)
        assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3]
        plan = kept._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
        assert "SortMergeJoin" not in plan, plan


class TestDecontamination:
    def test_train_eval_overlap(self, spark):
        from orama_spark.datapipe.dedup import ngram_contamination

        w = lambda k, n: " ".join(f"{k}{i}" for i in range(n))
        train = spark.createDataFrame(
            [
                (0, w("a", 12)),           # source of eval 100's text
                (1, w("b", 12)),           # clean
                (2, w("a", 12)),           # identical to 0 -> also flagged
            ],
            "doc_id long, text string",
        )
        evals = spark.createDataFrame(
            [(100, w("a", 12)), (101, w("z", 12))],
            "eval_id long, text string",
        )
        out = {
            (r["train_doc_id"], r["eval_doc_id"]): r["n_shared_ngrams"]
            for r in ngram_contamination(train, evals, n=8).collect()
        }
        # 12 tokens -> 5 distinct 8-grams, all shared with eval 100
        assert out == {(0, 100): 5, (2, 100): 5}

    def test_broadcast_eval_side(self, spark):
        from orama_spark.datapipe.dedup import ngram_contamination

        train = spark.createDataFrame(
            [(0, " ".join(f"t{i}" for i in range(30)))],
            "doc_id long, text string",
        )
        evals = spark.createDataFrame(
            [(1, " ".join(f"t{i}" for i in range(10)))],
            "eval_id long, text string",
        )
        plan = (
            ngram_contamination(train, evals, n=8)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan, plan


class TestRealImageDecode:
    def test_ppm_round_trip(self):
        rng = np.random.RandomState(3)
        arr = rng.randint(0, 256, (5, 7, 3)).astype(np.uint8)
        out = multimodal.decode_ppm(encode_ppm(arr))
        assert (out == arr).all()
        # comments + multi-whitespace header
        hdr = b"P6\n# a comment\n7   5\n# more\n255\n" + arr.tobytes()
        assert (multimodal.decode_ppm(hdr) == arr).all()

    def test_bmp_decode(self):
        # hand-build a 3x2 24-bit bottom-up BMP with row padding
        w, h = 3, 2
        arr = np.arange(w * h * 3, dtype=np.uint8).reshape(h, w, 3)
        row = ((w * 3 + 3) // 4) * 4
        px = bytearray()
        for y in range(h - 1, -1, -1):          # bottom-up
            line = bytearray()
            for x in range(w):
                r, g, b = arr[y, x]
                line += bytes([b, g, r])        # BGR
            line += b"\x00" * (row - len(line))
            px += line
        off = 54
        header = (
            b"BM" + (off + len(px)).to_bytes(4, "little") + b"\x00" * 4
            + off.to_bytes(4, "little")
            + (40).to_bytes(4, "little")
            + w.to_bytes(4, "little") + h.to_bytes(4, "little")
            + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
            + (0).to_bytes(4, "little") + len(px).to_bytes(4, "little")
            + b"\x00" * 16
        )
        out = multimodal.decode_bmp(bytes(header) + bytes(px))
        assert (out == arr).all()

    def test_extract_features_real_decode(self, spark):
        # uniform-gray PPM -> known profile; strict mode must NOT raise
        arr = np.full((4, 6, 3), 128, dtype=np.uint8)
        rows = [
            {"media_id": 0, "kind": "image", "mime": "image/x-portable-pixmap",
             "payload": encode_ppm(arr), "width": 6, "height": 4,
             "duration_ms": None},
        ]
        df = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
        out = multimodal.extract_features(df, strict=True).collect()
        f = out[0]["feature"]
        assert f[0] == 4.0 and f[1] == 6.0
        assert abs(f[2] - 128 / 255) < 1e-6 and abs(f[5]) < 1e-6  # flat image
        # compressed formats still refuse in strict mode
        bad = [{"media_id": 1, "kind": "image", "mime": "image/jpeg",
                "payload": b"\xff\xd8\xff\xe0 fake jpeg", "width": 1,
                "height": 1, "duration_ms": None}]
        with pytest.raises(Exception):
            multimodal.extract_features(
                spark.createDataFrame(bad, schema=multimodal.MEDIA_SCHEMA),
                strict=True,
            ).collect()


class TestRealJpegDecode:
    """Baseline JPEG (T.81 sequential DCT) — pure numpy Huffman + IDCT,
    no codec library (orama_spark.datapipe.jpeg). The encoder is the
    matching fixture: flat-quant round-trips are exact for solid colors
    and near-lossless for arbitrary images (only color-transform
    rounding), standard Annex K tables give lossy-but-close output."""

    def _expected_solid(self, col):
        from orama_spark.datapipe import jpeg as J

        img = np.broadcast_to(np.asarray(col, np.uint8), (1, 1, 3))
        return J._ycbcr_to_rgb(J._rgb_to_ycbcr(img))[0, 0]

    def test_solid_color_exact_444_and_420(self):
        from orama_spark.datapipe import jpeg as J

        for i, sub in [(3, False), (8, True), (250, False), (77, True)]:
            col = [(i * 37) % 256, (i * 59) % 256, (i * 83) % 256]
            img = np.broadcast_to(
                np.asarray(col, np.uint8), (11, 18, 3)
            ).copy()
            dec = J.decode_jpeg(J.encode_jpeg(img, subsample=sub))
            assert dec.shape == img.shape
            assert (dec == self._expected_solid(col)).all()

    def test_flat_quant_near_lossless(self):
        from orama_spark.datapipe import jpeg as J

        rng = np.random.default_rng(11)
        img = rng.integers(0, 256, (24, 33, 3), dtype=np.uint8)
        dec = J.decode_jpeg(J.encode_jpeg(img))
        # flat quant: loss = RGB<->YCbCr rounding (±1) + integer
        # coefficient rounding accumulated over 64 basis functions
        ref = J._ycbcr_to_rgb(J._rgb_to_ycbcr(img))
        assert np.abs(dec.astype(int) - ref.astype(int)).max() <= 3
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= 5

    def test_std_tables_lossy_but_close(self):
        from orama_spark.datapipe import jpeg as J

        rng = np.random.default_rng(4)
        base = rng.integers(0, 256, (40, 56, 3)).astype(float)
        smooth = np.clip(
            (base + np.roll(base, 1, 0) + np.roll(base, 1, 1)
             + np.roll(base, 2, 0)) / 4, 0, 255
        ).astype(np.uint8)
        for sub in (False, True):
            dec = J.decode_jpeg(J.encode_jpeg(
                smooth, quant_luma=J.STD_LUMA_QUANT,
                quant_chroma=J.STD_CHROMA_QUANT, subsample=sub,
            ))
            mse = float(np.mean((dec.astype(float) - smooth) ** 2))
            psnr = 10 * np.log10(255.0 ** 2 / mse)
            assert psnr > 15.0, (sub, psnr)

    def test_grayscale_single_component(self):
        from orama_spark.datapipe import jpeg as J

        rng = np.random.default_rng(9)
        g = rng.integers(0, 256, (17, 9), dtype=np.uint8)
        dec = J.decode_jpeg(J.encode_jpeg(g))
        assert (dec[..., 0] == dec[..., 1]).all()
        assert np.abs(dec[..., 0].astype(int) - g.astype(int)).max() <= 1

    def test_restart_markers_roundtrip(self):
        from orama_spark.datapipe import jpeg as J

        rng = np.random.default_rng(2)
        img = rng.integers(0, 256, (33, 47, 3), dtype=np.uint8)
        with_rst = J.decode_jpeg(J.encode_jpeg(img, restart_interval=3))
        without = J.decode_jpeg(J.encode_jpeg(img))
        assert (with_rst == without).all()

    def test_arithmetic_and_malformed_rejected(self):
        from orama_spark.datapipe import jpeg as J

        img = np.full((8, 8, 3), 100, np.uint8)
        enc = bytearray(J.encode_jpeg(img))
        sof = enc.find(b"\xff\xc0")
        enc[sof + 1] = 0xC9  # rebrand as arithmetic-coded sequential
        with pytest.raises(ValueError):
            J.decode_jpeg(bytes(enc))
        # a baseline scan mislabeled SOF2 is structurally invalid
        # progressive (full-band DC scan) — rejected, not misdecoded
        enc[sof + 1] = 0xC2
        with pytest.raises(ValueError):
            J.decode_jpeg(bytes(enc))
        with pytest.raises(ValueError):
            J.decode_jpeg(b"\xff\xd8garbage")
        # dispatcher contract: malformed JPEG -> None, not an exception
        assert multimodal.decode_image(b"\xff\xd8\xff\xee\x00\x04ab") is None

    def test_strict_mode_accepts_jpeg(self, spark):
        from orama_spark.datapipe import jpeg as J

        col = [10, 200, 30]
        img = np.broadcast_to(np.asarray(col, np.uint8), (6, 9, 3)).copy()
        rows = [{"media_id": 0, "kind": "image", "mime": "image/jpeg",
                 "payload": J.encode_jpeg(img), "width": 9, "height": 6,
                 "duration_ms": None}]
        df = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
        f = multimodal.extract_features(df, strict=True).collect()[0]["feature"]
        exp = self._expected_solid(col)
        assert f[0] == 6.0 and f[1] == 9.0
        assert abs(f[2] - exp[0] / 255) < 1e-6
        assert abs(f[3] - exp[1] / 255) < 1e-6


class TestProgressiveJpeg:
    """SOF2 progressive decode (T.81 Annex G: spectral selection +
    successive approximation). The progressive encoder quantizes
    identically to the baseline one, so both encodings of any image
    must decode to IDENTICAL pixels — a bit-exact differential gate
    over every scan kind (DC first/refine, AC first with EOB runs and
    ZRL, AC refinement at two bit levels)."""

    def test_matches_baseline_bit_exact(self):
        from orama_spark.datapipe import jpeg as J

        rng = np.random.default_rng(11)
        for h, w in [(8, 8), (9, 13), (21, 34), (40, 56)]:
            img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            for sub in (False, True):
                for ql, qc in ((J.FLAT_QUANT, None),
                               (J.STD_LUMA_QUANT, J.STD_CHROMA_QUANT)):
                    base = J.decode_jpeg(J.encode_jpeg(
                        img, ql, qc, subsample=sub))
                    prog = J.decode_jpeg(J.encode_jpeg_progressive(
                        img, ql, qc, subsample=sub))
                    assert (base == prog).all(), (h, w, sub)

    def test_grayscale_and_solid_exact(self):
        from orama_spark.datapipe import jpeg as J

        rng = np.random.default_rng(9)
        g = rng.integers(0, 256, (19, 23), dtype=np.uint8)
        assert (J.decode_jpeg(J.encode_jpeg_progressive(g))
                == J.decode_jpeg(J.encode_jpeg(g))).all()
        solid = np.full((10, 14, 3), [17, 200, 99], dtype=np.uint8)
        exp = J._ycbcr_to_rgb(J._rgb_to_ycbcr(solid).astype(np.float64))
        assert (J.decode_jpeg(J.encode_jpeg_progressive(solid)) == exp).all()

    def test_restart_intervals(self):
        from orama_spark.datapipe import jpeg as J

        rng = np.random.default_rng(23)
        img = rng.integers(0, 256, (24, 40, 3), dtype=np.uint8)
        for ri in (1, 2, 5):
            for sub in (False, True):
                base = J.decode_jpeg(J.encode_jpeg(
                    img, J.STD_LUMA_QUANT, J.STD_CHROMA_QUANT,
                    subsample=sub, restart_interval=ri))
                prog = J.decode_jpeg(J.encode_jpeg_progressive(
                    img, J.STD_LUMA_QUANT, J.STD_CHROMA_QUANT,
                    subsample=sub, restart_interval=ri))
                assert (base == prog).all(), (ri, sub)

    def test_sparse_image_eob_runs(self):
        from orama_spark.datapipe import jpeg as J

        # mostly-flat image => long EOB runs + ZRL symbols in the AC
        # scans; pins the run-length paths on both sides
        sparse = np.full((32, 32, 3), 128, dtype=np.uint8)
        sparse[5, 7] = [255, 0, 0]
        sparse[20, 28] = [0, 255, 0]
        base = J.decode_jpeg(J.encode_jpeg(
            sparse, J.STD_LUMA_QUANT, J.STD_CHROMA_QUANT))
        prog = J.decode_jpeg(J.encode_jpeg_progressive(
            sparse, J.STD_LUMA_QUANT, J.STD_CHROMA_QUANT))
        assert (base == prog).all()

    def test_dispatcher_accepts_progressive(self):
        from orama_spark.datapipe import jpeg as J

        img = np.full((6, 9, 3), [10, 200, 30], dtype=np.uint8)
        arr = multimodal.decode_image(J.encode_jpeg_progressive(img))
        assert arr is not None and arr.shape == (6, 9, 3)


class TestRealPngDecode:
    """PNG = zlib-deflate IDAT + 5 per-row prediction filters — decoded
    with stdlib zlib + numpy, no codec library. encode_png applies each
    filter by its spec definition, so the round-trip proves decode_png
    inverts every filter path."""

    @pytest.mark.parametrize("ft", [0, 1, 2, 3, 4])
    def test_roundtrip_each_filter(self, ft):
        rng = np.random.default_rng(42 + ft)
        img = rng.integers(0, 256, size=(13, 17, 3), dtype=np.uint8)
        out = multimodal.decode_png(multimodal.encode_png(img, filter_type=ft))
        assert out.shape == img.shape and (out == img).all()

    def test_rgba_drops_alpha_gray_broadcasts(self):
        rng = np.random.default_rng(7)
        rgba = rng.integers(0, 256, size=(5, 7, 4), dtype=np.uint8)
        assert (
            multimodal.decode_png(multimodal.encode_png(rgba, filter_type=4))
            == rgba[..., :3]
        ).all()
        g = rng.integers(0, 256, size=(6, 4, 1), dtype=np.uint8)
        assert (
            multimodal.decode_png(multimodal.encode_png(g, filter_type=1))
            == np.repeat(g, 3, axis=2)
        ).all()

    def test_malformed_yields_none_not_crash(self):
        assert multimodal.decode_image(b"\x89PNG\r\n\x1a\ngarbage") is None
        assert multimodal.decode_image(b"\x89PNG\r\n\x1a\n") is None

    @pytest.mark.parametrize("ft", [0, 1, 2, 3, 4])
    def test_adam7_interlace_roundtrip(self, ft):
        # each Adam7 pass is an independently-filtered sub-image; odd
        # dims make the late passes ragged
        rng = np.random.default_rng(100 + ft)
        for h, w in [(1, 1), (3, 9), (13, 21), (16, 16)]:
            img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            out = multimodal.decode_png(
                multimodal.encode_png(img, filter_type=ft, interlace=True)
            )
            assert (out == img).all(), (ft, h, w)

    def test_palette_roundtrip_and_bounds(self):
        rng = np.random.default_rng(3)
        pal = rng.integers(0, 256, (17, 3), dtype=np.uint8)
        idx = rng.integers(0, 17, (9, 14), dtype=np.uint8)
        for il in (False, True):
            dec = multimodal.decode_png(
                encode_png_palette(idx, pal, interlace=il)
            )
            assert (dec == pal[idx]).all(), il
        with pytest.raises(ValueError):
            multimodal.decode_png(
                encode_png_palette(
                    np.full((2, 2), 30, np.uint8), pal
                )
            )

    def test_strict_mode_accepts_png(self, spark):
        img = np.full((4, 6, 3), 200, dtype=np.uint8)
        rows = [{"media_id": 0, "kind": "image", "mime": "image/png",
                 "payload": multimodal.encode_png(img, filter_type=2),
                 "width": 6, "height": 4, "duration_ms": None}]
        df = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
        f = multimodal.extract_features(df, strict=True).collect()[0]["feature"]
        assert f[0] == 4.0 and f[1] == 6.0
        assert abs(f[2] - 200 / 255) < 1e-6 and abs(f[5]) < 1e-6


class TestBpeTokenCount:
    def test_cross_engine_pattern_equivalence(self, spark):
        """The Spark (Java regex) and DuckDB (RE2) evaluations of
        BPE_SPLIT_PATTERN must agree piece-for-piece — the oracle's
        soundness rests on it."""
        import duckdb

        from orama_spark.datapipe.text_quality import (
            BPE_SPLIT_PATTERN, bpe_token_count,
        )

        samples = ["hello world", "it's 2024!", "a  b\tc\n", "", "café über",
                   "x86-64 (fast)", "don't stop", "...!!!", "word",
                   "I'll they're we've he'd isn't", "  leading", "trail  "]
        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(samples)], "doc_id long, text string"
        )
        got = {r["id"]: r["n_bpe_tokens"]
               for r in bpe_token_count(df).collect()}
        con = duckdb.connect()
        for i, s in enumerate(samples):
            want = con.sql(
                "SELECT len(regexp_extract_all(?, ?))",
                params=[s, BPE_SPLIT_PATTERN],
            ).fetchone()[0]
            assert got[i] == want, (s, got[i], want)

    def test_contraction_pieces(self, spark):
        from orama_spark.datapipe.text_quality import bpe_token_count

        df = spark.createDataFrame([(0, "don't")], "doc_id long, text string")
        # don + 't = 2 pieces (the contraction alternates split it)
        assert bpe_token_count(df).collect()[0]["n_bpe_tokens"] == 2


class TestBpeExactTokenCount:
    """bpe_exact_token_count runs the real GPT-2 merge loop; the
    DEFAULT_BPE_MERGES table additionally admits a closed form (bytes -
    pair occurrences, pairs can never chain) which the driver oracle
    uses — pinned here cross-engine."""

    def test_closed_form_matches_kernel(self, spark):
        import duckdb

        from orama_spark.datapipe.text_quality import (
            DEFAULT_BPE_MERGES, bpe_exact_token_count,
        )

        samples = ["the modern question", "an onion in a banana bin",
                   "thththt erer nini anon ququ", "it's 2024!",
                   "Äther über quälen", "", "   ", "inner monologue on"]
        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(samples)], "doc_id long, text string"
        )
        got = {r["id"]: r["n_bpe_tokens_exact"]
               for r in bpe_exact_token_count(df).collect()}
        con = duckdb.connect()
        for i, s in enumerate(samples):
            terms = " - ".join(
                f"len(regexp_extract_all(?, '{l}{r}'))"
                for l, r in DEFAULT_BPE_MERGES
            )
            want = con.sql(
                f"SELECT strlen(?) - {terms}",
                params=[s] * (1 + len(DEFAULT_BPE_MERGES)),
            ).fetchone()[0]
            assert got[i] == want, (s, got[i], want)

    def test_recursive_chain_merges(self, spark):
        """A table whose merges CHAIN ((e,r) then (er,n)) proves the
        kernel is the general recursive algorithm, not the closed
        form."""
        from orama_spark.datapipe.text_quality import bpe_exact_token_count

        df = spark.createDataFrame(
            [(0, "modern"), (1, "ferner"), (2, "ern er n")],
            "doc_id long, text string",
        )
        merges = [("e", "r"), ("er", "n"), ("o", "d")]
        got = {r["id"]: r["n_bpe_tokens_exact"]
               for r in bpe_exact_token_count(df, merges=merges).collect()}
        # modern -> m,od,ern ; ferner -> f,er,n,er (ties: lowest rank
        # (e,r) merges ALL occurrences first, then (er,n) merges the
        # first er+n) -> f,ern,er ; "ern er n" -> [ern],[ er],[ n]
        # pieces: "ern"-> ern(1); " er"-> space,er(2); " n"-> space,n(2)
        assert got[0] == 3
        assert got[1] == 3
        assert got[2] == 5

    def test_exact_at_least_pieces(self, spark):
        """Pieces lower-bound exact tokens (each piece >= 1 token)."""
        from orama_spark.datapipe.text_quality import (
            bpe_exact_token_count, bpe_token_count,
        )

        samples = ["the quick brown fox", "on and on and on", "q u i"]
        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(samples)], "doc_id long, text string"
        )
        pieces = {r["id"]: r["n_bpe_tokens"] for r in bpe_token_count(df).collect()}
        exact = {r["id"]: r["n_bpe_tokens_exact"]
                 for r in bpe_exact_token_count(df).collect()}
        for i in pieces:
            assert exact[i] >= pieces[i]
