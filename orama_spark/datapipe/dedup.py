"""Deduplication operators for large-scale training-data pipelines.

All operators are pure DataFrame plans (no Python in the row path):

  * exact_duplicates       — hash-groupBy on canonical bytes
  * ngram_jaccard_pairs    — EXACT Jaccard via inverted shingle join
                             (deterministic; the candidate join prunes
                             ultra-common shingles by df, the classic
                             "positional filter lite" for scale)
  * minhash_signatures / minhash_lsh_pairs
                           — MinHash (a*x+b mod p over xxhash64
                             shingles) banded LSH; candidates verified
                             by exact Jaccard
  * simhash64 / simhash_pairs
                           — 64-bit SimHash over tokens, banded by
                             16-bit chunks, Hamming-verified
  * embedding_dup_pairs    — cosine near-dup via random-hyperplane LSH
                             + exact cosine verify

Scale notes: every pairwise step goes through a bucket/shingle equi-join
(shuffle on the bucket key) — never a cross join. Hot buckets (boiler-
plate shingles) are dropped by a df cap before the self-join, which is
the standard guard against quadratic blowup on 100 TB corpora.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

# Mersenne prime 2^61-1 keeps (a*x+b) mod p in int64 without overflow
# ... but a*x overflows int64 for 61-bit x; we use 32-bit folded inputs
# and 31-bit coefficients so products stay < 2^63.
_P = (1 << 61) - 1
_MASK32 = (1 << 32) - 1


def canonical_text(col: Column) -> Column:
    """Whitespace-collapsed, trimmed text — canonical bytes for exact dedup."""
    return F.regexp_replace(F.trim(col), r"\s+", " ")


def exact_duplicates(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    max_ids: int = 100,
) -> DataFrame:
    """(text_hash, dup_count, keep_id, all_ids) for groups of >1 doc.

    ``all_ids`` is BOUNDED: the first ``max_ids`` ids per group in
    ascending order. At web scale one boilerplate page can repeat ~10^9
    times; an unbounded collect_list would put every id of that group
    into a single aggregation buffer. The row_number window caps the
    buffer itself (collect_list skips the NULLs the cap produces), and
    the groupBy that follows reuses the window's hash partitioning on
    text_hash — still ONE exchange total (asserted in
    tests/test_physical_plans.py)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("text_hash").orderBy("id")
    return (
        docs.select(
            F.col(id_col).alias("id"),
            F.md5(canonical_text(F.col(text_col))).alias("text_hash"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("dup_count"),
            F.min("id").alias("keep_id"),
            F.sort_array(
                F.collect_list(F.when(F.col("_rn") <= max_ids, F.col("id")))
            ).alias("all_ids"),
        )
        .where(F.col("dup_count") > 1)
    )


def token_shingles(col: Column, n: int = 3) -> Column:
    """Distinct n-token (word) shingles over whitespace tokens.

    Arrow kernel, one pass per batch. The original higher-order-
    expression formulation (transform/sequence/slice/concat_ws over
    the token array) is NOT whole-stage-codegen-able — Spark evaluates
    higher-order functions interpreted, measured 10x slower on the
    sf0.1 corpus — while the semantics are byte-identical: Java-regex
    ``\\s+`` collapse ([ \\t\\n\\x0B\\f\\r]), space-only trim, NO
    empty-token filtering, first-occurrence dedup order.
    """
    import re

    from pyspark.sql.types import ArrayType, StringType

    ws = re.compile(r"[ \t\n\x0b\f\r]+")

    @F.pandas_udf(ArrayType(StringType()))
    def _shingles(texts: pd.Series) -> pd.Series:
        def one(t):
            if t is None:
                return []  # the Column form also yielded [] for NULL
            toks = ws.sub(" ", t.strip(" ")).split(" ")
            if len(toks) - (n - 1) < 1:
                return []
            seen = set()
            out = []
            for i in range(len(toks) - n + 1):
                g = " ".join(toks[i : i + n])
                if g not in seen:
                    seen.add(g)
                    out.append(g)
            return out

        return texts.map(one)

    return _shingles(col)


def _shingle_hash_rows(
    docs: DataFrame, text_col: str, id_col: str, n: int, out_id: str = "id"
) -> DataFrame:
    """(out_id, sz, gh) rows: one row per DISTINCT n-token shingle of
    each doc, gh = a 64-bit FNV-style fold over the shingle's token
    hashes, sz = the doc's distinct-shingle count.

    This replaces explode(token_shingles(...)): the join/aggregation
    pipeline downstream only ever compares shingles for EQUALITY, so an
    (effectively collision-free) 64-bit hash is a drop-in for the
    20-40 byte shingle string — the shuffles move 8 bytes per shingle
    and the whole kernel vectorizes (token split in Python, token
    hashing + window fold + dedup in numpy/pandas across the batch).
    Carrying sz on every row lets callers aggregate pair sizes without
    a second corpus pass. Cardinality changes per row, hence mapInArrow
    rather than a pandas UDF.

    Semantic boundary: two different shingles with the same 64-bit gh
    compare equal. Treating gh as uniform, N distinct shingles across
    the compared tables give about N²/2⁶⁵ colliding pairs: ~0.5 at
    N = 2³², ~128 at 2³⁶. Up to ~2³² the results are exact in
    practice; far beyond it a collision can add a shared shingle that
    is not there (a Jaccard estimate too high, a spurious pair or
    contamination hit) or merge two of one doc's shingles (sz one
    short). It never loses a shingle two docs really share.
    """
    import re

    import numpy as np
    import pyarrow as pa

    from .portable_hash import FNV_OFFSET, FNV_PRIME, token_hashes

    ws_re = re.compile(r"[\t\n\x0b\f\r ]+")
    id_type = dict(docs.dtypes)[id_col]

    def gen(batches):
        pr = np.uint64(FNV_PRIME)
        for batch in batches:
            ids = batch.column(0)
            texts = batch.column(1).to_pylist()
            toks_all: list[str] = []
            ntoks: list[int] = []
            for t in texts:
                if t is None:
                    ntoks.append(0)
                    continue
                toks = ws_re.sub(" ", t.strip(" ")).split(" ")
                if len(toks) - (n - 1) < 1:
                    ntoks.append(0)
                    continue
                toks_all.extend(toks)
                ntoks.append(len(toks))
            ntoks_a = np.asarray(ntoks, dtype=np.int64)
            th = token_hashes(toks_all).view(np.uint64)
            nw = len(th) - n + 1
            if nw <= 0:
                yield pa.record_batch(
                    [ids.take(pa.array([], type=pa.int32())),
                     pa.array([], type=pa.int64()),
                     pa.array([], type=pa.int64())],
                    names=[out_id, "sz", "gh"],
                )
                continue
            h = np.full(nw, FNV_OFFSET, dtype=np.uint64)
            for j in range(n):
                h = (h ^ th[j : j + nw]) * pr
            pos_doc = np.repeat(np.arange(len(ntoks_a)), ntoks_a)
            valid = pos_doc[:nw] == pos_doc[n - 1 :]
            hv = h[valid].view(np.int64)
            gdoc = pos_doc[:nw][valid]
            dd = pd.DataFrame({"d": gdoc, "h": hv}).drop_duplicates()
            d = dd["d"].to_numpy()
            szs = np.bincount(d, minlength=len(ntoks_a))
            yield pa.record_batch(
                [ids.take(pa.array(d, type=pa.int32())),
                 pa.array(szs[d], type=pa.int64()),
                 pa.array(dd["h"].to_numpy(), type=pa.int64())],
                names=[out_id, "sz", "gh"],
            )

    return docs.select(F.col(id_col), F.col(text_col)).mapInArrow(
        gen, f"{out_id} {id_type}, sz long, gh long"
    )


def _pin_pair_join(df: DataFrame, *keys: str) -> DataFrame:
    """Pin the shuffle partitioning (count AND keys) feeding a
    pair-generating self-join.

    The join OUTPUT of a within-bucket pair join can be orders of
    magnitude larger than its input; AQE sizes (and coalesces) the
    input exchange from input bytes, so at 10x data the sf1.0 leg
    measured entire pair explosions landing in ONE task (519 s
    ngram-jaccard, 800+ s minhash agreement — SCALE_r04.json). A
    user-specified repartition is exempt from AQE coalescing; both
    sides of the self-join reuse the same partitioning, so this adds
    no extra shuffle — it only fans the explosion across the cluster.
    """
    p = df.sparkSession.sparkContext.defaultParallelism * 2
    return df.repartition(p, *keys)


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 500,
) -> DataFrame:
    """EXACT n-gram Jaccard similar pairs (id_a < id_b, jaccard >= t).

    Algorithm: explode distinct shingles -> self-equi-join on shingle
    (counts shared shingles per pair) -> jaccard = shared/(|A|+|B|-shingle).
    ``max_shingle_df`` drops shingles occurring in more than that many
    docs before the join — the guard against the quadratic blowup a
    boilerplate shingle causes at 100 TB (a df-D shingle alone creates
    D^2/2 candidate pairs). Default 500: a dropped shingle can only
    LOWER a pair's computed Jaccard, and pairs above a meaningful
    threshold share many rarer shingles; pass None to disable (exact
    but unbounded per-shingle work).
    """
    from pyspark.sql.window import Window

    # one Arrow kernel emits (id, sz, gh) — hashed shingles with the
    # doc's distinct-shingle count on every row — so the whole pipeline
    # is: kernel -> ONE pinned exchange on gh -> window df-cap ->
    # self-join -> pair aggregation. The previous string-shingle form
    # re-evaluated the tokenize UDF for the sizes branch, the df-cap
    # branch and the join (3x the kernel cost) and shuffled 20-40 byte
    # shingle strings instead of 8-byte hashes.
    sh = _shingle_hash_rows(docs, text_col, id_col, n)
    sh = _pin_pair_join(sh, "gh")
    if max_shingle_df is not None:
        # per-shingle df as a window count on the exchange's own
        # partitioning — the df-cap costs a per-partition sort, not a
        # second corpus pass + semi-join
        sh = sh.withColumn(
            "sdf", F.count("*").over(Window.partitionBy("gh"))
        ).where(F.col("sdf") <= max_shingle_df)
    a = sh.alias("a")
    # shuffle_hash: both sides sit on the SAME pinned (gh) exchange —
    # the planner would otherwise broadcast the whole capped shingle
    # table (~2.4M rows at sf1.0) and duplicate the kernel+window chain
    # into the broadcast build side
    b = sh.alias("b").hint("shuffle_hash")
    return (
        a.join(b, "gh")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.count("*").alias("shared"),
            F.first(F.col("a.sz")).alias("sz_a"),
            F.first(F.col("b.sz")).alias("sz_b"),
        )
        .select(
            "id_a",
            "id_b",
            (
                F.col("shared")
                / (F.col("sz_a") + F.col("sz_b") - F.col("shared"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _minhash_coeffs(n_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs, a odd 31-bit, b 31-bit."""
    coeffs = []
    state = seed
    for _ in range(n_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) & ((1 << 64) - 1)
        a = ((state >> 33) | 1) & 0x7FFFFFFF
        state = (state * 6364136223846793005 + 1442695040888963407) & ((1 << 64) - 1)
        b = (state >> 33) & 0x7FFFFFFF
        coeffs.append((a or 1, b))
    return coeffs


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    shingle_k: int = 5,
) -> DataFrame:
    """(id, sig: array<bigint>[n_hashes]) MinHash signatures.

    ONE Arrow kernel per batch: canonicalize -> k-gram FNV-1a hashes
    (portable_hash.py, bit-exact reproducible in DuckDB SQL — this is
    what gives the LSH driver query a value-level oracle) folded to 32
    bits -> n_hashes min((a*x+b) mod p) reductions as a numpy outer
    product. Only the text column crosses Arrow."""
    import re

    from pyspark.sql.types import ArrayType, LongType

    from .portable_hash import kgram_hashes

    coeffs = _minhash_coeffs(n_hashes)
    A = [a for a, _ in coeffs]
    B = [b for _, b in coeffs]
    ws_re = re.compile(r"[\t\n\f\r ]+")

    @F.pandas_udf(ArrayType(LongType()))
    def _sig(texts: pd.Series) -> pd.Series:
        import numpy as np

        from .portable_hash import FNV_OFFSET, FNV_PRIME

        a = np.array(A, dtype=np.uint64)
        b = np.array(B, dtype=np.uint64)
        p = np.uint64(_P)
        pr = np.uint64(FNV_PRIME)
        n_h = len(A)
        sentinel = [int(_P)] * n_h

        # Whole-BATCH kernel (not per-row): the per-doc formulation spent
        # most of its time in per-row Python/numpy-call overhead (regex +
        # ~10 small numpy ops per doc, measured 10.4 s at 50k docs).
        # Here every doc's canonical codepoints are concatenated into ONE
        # array, k-gram FNV hashes are computed in k fused passes over
        # it (windows crossing doc boundaries masked out), the hashes are
        # folded to 32 bits and globally deduplicated (np.unique with
        # inverse — duplicates across docs are common and each costs 64
        # modmuls), the 64 (a*x+b) mod p rows are evaluated once per
        # UNIQUE gram, and per-doc minima come from np.minimum.reduceat
        # over the doc-ordered gather. Bit-identical to the per-doc form:
        # per-doc np.unique only removed redundant work, min is order-
        # independent, and the uint64 arithmetic is unchanged.
        out: list = [None] * len(texts)
        canons: list[str] = []
        lens: list[int] = []
        rows: list[int] = []
        for i, t in enumerate(texts):
            if t is None:
                out[i] = sentinel
                continue
            canon = ws_re.sub(" ", t.strip(" "))
            if len(canon) < shingle_k:
                out[i] = sentinel
                continue
            canons.append(canon)
            lens.append(len(canon))
            rows.append(i)
        if canons:
            lens_a = np.asarray(lens, dtype=np.int64)
            codes = np.frombuffer(
                "".join(canons).encode("utf-32-le"), dtype=np.uint32
            ).astype(np.uint64)
            # FNV fold over every window of the concatenation —
            # contiguous shifted slices (see kgram_hashes: the
            # window-view form is 8x the DRAM traffic)
            nw = len(codes) - shingle_k + 1
            h = np.full(nw, FNV_OFFSET, dtype=np.uint64)
            for j in range(shingle_k):
                h = (h ^ codes[j : j + nw]) * pr
            # valid = windows fully inside one doc; they are doc-ordered
            pos_doc = np.repeat(np.arange(len(canons)), lens_a)
            valid = pos_doc[:nw] == pos_doc[shingle_k - 1 :]
            hv = (h.view(np.int64)[valid] & np.int64(_MASK32)).astype(np.uint64)
            # per-doc gram-run offsets (every surviving doc has >=1 gram)
            grams_per_doc = lens_a - (shingle_k - 1)
            offs = np.concatenate(([0], np.cumsum(grams_per_doc)[:-1]))
            # hash-based dedup (pd.factorize), NOT np.unique: word-level
            # corpora repeat grams heavily across docs (U << N) and the
            # sort inside np.unique dominated the kernel; min() is
            # order-independent so unsorted first-seen uniques are fine
            inv, xu = pd.factorize(hv)
            xu = np.ascontiguousarray(xu, dtype=np.uint64)
            # int32 gather indices: the inv array is re-read once per
            # hash function (64x) — halving its width halves the
            # dominant DRAM traffic of this loop on a bandwidth-bound VM
            inv = inv.astype(np.int32, copy=False)
            best = np.empty((len(canons), n_h), dtype=np.uint64)
            for j in range(n_h):
                yu = (a[j] * xu + b[j]) % p
                best[:, j] = np.minimum.reduceat(yu[inv], offs)
            sig64 = best.view(np.int64)
            for d, i in enumerate(rows):
                out[i] = sig64[d].tolist()
        return pd.Series(out)

    return docs.select(F.col(id_col).alias("id"), _sig(F.col(text_col)).alias("sig"))


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.7,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash LSH, verified with the
    signature-estimated Jaccard (fraction of agreeing minhashes).

    rows/band r = n_hashes/bands; P(candidate) = 1-(1-j^r)^bands.
    ``max_bucket_size`` caps degenerate buckets (all-identical boiler-
    plate) before the quadratic within-bucket join.

    Semantic boundary: the signatures are materialized once with
    ``localCheckpoint``, which keeps no lineage. If an executor holding
    checkpoint blocks is lost mid-query the query fails with a
    missing-checkpoint-block error rather than recomputing them; rerun
    it (the signatures are deterministic, so the pairs are the same).
    """
    assert n_hashes % bands == 0
    r = n_hashes // bands
    # The signature table is MATERIALIZED once per invocation
    # (localCheckpoint): the plan references it four times (bucket-size
    # agg, cap semi-join, both sides of the pair self-join), and
    # Catalyst's filter pushdown re-shapes the subtrees enough that
    # exchange reuse does NOT deduplicate them — measured at sf1.0, the
    # signature kernel ran 3-4x per query without this. The checkpoint
    # is ~10 bytes/hash/doc (the same order as one shuffle of the table)
    # and is recomputed from the parquet input on every invocation — it
    # never outlives the query plan that built it.
    sigs = minhash_signatures(
        docs, text_col, id_col, n_hashes, shingle_k
    ).localCheckpoint(eager=True)
    # bucket key = the band's raw minhash subvector (joined on equality
    # — a hash of it would only add collision-induced candidates and
    # break oracle reproducibility). The key is the slice ARRAY itself:
    # array<bigint> equality is exactly element equality, identical
    # grouping to the previous comma-joined decimal string but without
    # 16 long->string formats per doc and with a smaller shuffle row.
    buckets = sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.slice("sig", bi * r + 1, r).alias("bh"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "sig", F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh"))
    # cap hot buckets. shuffle_hash hints: the checkpointed input has no
    # size statistics, so the planner would otherwise BROADCAST the
    # ok-bucket list (~60 MB) and even the sig-carrying self-join side
    # (~480 MB at sf1.0 — measured 3x slower than the whole query); the
    # hinted joins run on the pinned (band, bh) exchanges instead.
    sizes = buckets.groupBy("band", "bh").agg(F.count("*").alias("bsz"))
    buckets = buckets.join(
        sizes.where(F.col("bsz") <= max_bucket_size)
        .select("band", "bh")
        .hint("shuffle_hash"),
        ["band", "bh"],
        "left_semi",
    )
    buckets = _pin_pair_join(buckets, "band", "bh")
    a = buckets.alias("a")
    b = buckets.alias("b").hint("shuffle_hash")
    # compute the signature-agreement estimate BEFORE deduplicating the
    # per-band candidates: the est >= threshold filter drops nearly all
    # candidate rows, so the dedupe exchange that follows moves only the
    # (tiny) surviving set — at sf1.0 that is thousands of rows instead
    # of the 7.5M unique candidate pairs a dedupe-first order shuffles.
    # (A/B-tested alternative: a sum of 64 literal-index getItem
    # comparisons — nominally codegen-friendly — measured 115 s vs 6.5 s
    # for this zip_with form at sf1.0; the giant flat expression defeats
    # Spark's codegen. Keep the higher-order form.)
    est = F.size(
        F.filter(
            F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: x == y),
            lambda z: z,
        )
    ) / F.lit(float(n_hashes))
    return (
        a.join(b, ["band", "bh"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            est.alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash64(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash: bigint) — 64-bit SimHash over whitespace tokens.
    Per bit j: sign of sum over tokens of (+1 if bit j of fnv64(token)
    else -1). ONE Arrow kernel per batch (token FNV-1a + bit sums as a
    64x n_tokens numpy matrix) — per-doc work, map-only, no shuffle;
    the portable hash makes the driver query DuckDB-oracle-able.
    Empty/whitespace-only/null text -> simhash 0."""
    import re

    from pyspark.sql.types import LongType

    from .portable_hash import token_hashes

    ws_re = re.compile(r"[\t\n\f\r ]+")

    @F.pandas_udf(LongType())
    def _sim(texts: pd.Series) -> pd.Series:
        import numpy as np

        # whole-batch kernel: one token_hashes call over every token in
        # the batch, then 64 bit-count passes with per-doc sums via
        # np.add.reduceat — bit-identical to the per-doc form (same
        # counts, same majority test, same two's-complement packing),
        # without the per-row Python/numpy-call overhead
        out = np.zeros(len(texts), dtype=np.int64)
        toks_all: list[str] = []
        ntoks: list[int] = []
        rows: list[int] = []
        for i, t in enumerate(texts):
            if t is None:
                continue
            canon = ws_re.sub(" ", t.strip(" "))
            toks = canon.split(" ") if canon else []
            if not toks:
                continue
            toks_all.extend(toks)
            ntoks.append(len(toks))
            rows.append(i)
        if rows:
            ntoks_a = np.asarray(ntoks, dtype=np.int64)
            offs = np.concatenate(([0], np.cumsum(ntoks_a)[:-1]))
            hs = token_hashes(toks_all).view(np.uint64)
            val = np.zeros(len(rows), dtype=np.uint64)
            one_u = np.uint64(1)
            for j in range(64):
                bit_j = (hs >> np.uint64(j)) & one_u
                cnt = np.add.reduceat(bit_j, offs)
                pos = (2 * cnt) > ntoks_a  # sum(+1/-1) > 0
                val |= pos.astype(np.uint64) << np.uint64(j)
            out[np.asarray(rows)] = val.view(np.int64)
        return pd.Series(out)

    # guide §4.4: the join-key null filter the planner synthesizes from
    # the chunk expressions gets pushed below the fan-out exchange and
    # DUPLICATES the kernel (two stacked ArrowEvalPython nodes in the
    # sf1.0 plan); non-deterministic blocks the reorder — the filter is
    # vacuous anyway (the kernel never returns null)
    _sim = _sim.asNondeterministic()
    return docs.select(F.col(id_col).alias("id"), _sim(F.col(text_col)).alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming, banded by the
    four 16-bit chunks (a pair within distance 3 shares >= 1 chunk)."""
    sh = simhash64(docs, text_col, id_col)
    chunks = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned("simhash", c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("cv"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ck"),
    ).select("id", "simhash", F.col("ck.chunk").alias("chunk"), F.col("ck.cv").alias("cv"))
    chunks = _pin_pair_join(chunks, "chunk", "cv")
    a = chunks.alias("a")
    # shuffle_hash: a broadcast build side would re-evaluate the whole
    # kernel+explode chain instead of reusing the pinned exchange
    b = chunks.alias("b").hint("shuffle_hash")
    # Hamming filter BEFORE the dedupe: hamming is a pure function of
    # the pair, so filtering first yields the identical distinct set
    # while the dedupe exchange moves only the (tiny) surviving rows
    # instead of every chunk-collision candidate.
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, ["chunk", "cv"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def embedding_dup_pairs(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 16,
    seed: int = 11,
    planes=None,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Cosine near-dup pairs (>= threshold) via random-hyperplane LSH:
    sign-bit sketch -> bucket join on the full sketch -> exact cosine
    verify. High thresholds => near-identical sketches, so a single
    16-bit bucket has high recall; verification is exact.

    ``planes``: pass an explicit (n_planes, dim) array to make the
    sketch reproducible outside Spark (the driver oracle embeds the
    same literals in SQL). ``max_bucket_size`` caps degenerate buckets
    (e.g. all-zero embeddings share one sketch) before the quadratic
    within-bucket join — the 100 TB guard."""
    import numpy as np

    if planes is None:
        rng = np.random.default_rng(seed)
        first = embeddings.select(F.size(vec_col).alias("d")).first()
        planes = rng.standard_normal((n_planes, first["d"]))
    else:
        planes = np.asarray(planes, dtype=np.float64)
        n_planes = planes.shape[0]
    # NOTE on parallelism: the bucket join is deliberately NOT pinned
    # (unlike the shingle/band/chunk pair joins): forcing an exchange
    # here demotes the higher-order cosine/sketch expressions out of
    # whole-stage codegen (measured 10-30x slower at bench scale).
    # While the embeddings side fits the broadcast threshold the whole
    # chain stays codegen'd; past it Spark's own sk-shuffle join runs
    # at full shuffle parallelism, and the max_bucket_size cap bounds
    # the per-bucket quadratic work either way.
    sketch = F.concat(
        *[
            F.when(
                F.aggregate(
                    F.zip_with(
                        F.col(vec_col),
                        F.array(*[F.lit(float(x)) for x in planes[j]]),
                        lambda a, b: a * b,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                >= 0,
                F.lit("1"),
            ).otherwise(F.lit("0"))
            for j in range(n_planes)
        ]
    )
    e = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), sketch.alias("sk")
    )
    # hot-bucket cap (partial-aggregated count + semi-join, same shape
    # as the minhash/simhash guards)
    ok = (
        e.groupBy("sk")
        .agg(F.count("*").alias("bsz"))
        .where(F.col("bsz") <= max_bucket_size)
        .select("sk")
    )
    e = e.join(ok, "sk", "left_semi")
    a = e.alias("a")
    b = e.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    mag = lambda side: F.sqrt(  # noqa: E731
        F.aggregate(F.col(f"{side}.v"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return (
        a.join(b, F.col("a.sk") == F.col("b.sk"))
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (dot / (mag("a") * mag("b"))).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def duplicate_paragraphs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 30,
) -> DataFrame:
    """Cross-document EXACT duplicate paragraphs — the sub-document
    granularity every large pre-training dedup pipeline runs in
    addition to whole-doc dedup (boilerplate headers/footers/licenses
    repeat across pages whose full texts differ).

    Paragraph = '\\n\\n'-delimited block, space-trimmed; blocks shorter
    than ``min_len`` chars are ignored (navigation crumbs etc.).
    Returns one row per duplicated paragraph:
    (para_hash, n_docs, n_occurrences, first_doc_id).

    Scale shape: the explode is map-side (pipelines into the scan);
    the ONLY shuffle is the partial-aggregated groupBy on the 128-bit
    paragraph hash — uniformly distributed keys, no skew, no join.
    """
    paras = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n\n")
        ).alias("para"),
    )
    p = paras.select("doc_id", F.trim(F.col("para")).alias("para")).where(
        F.length("para") >= min_len
    )
    return (
        p.groupBy(F.md5(F.col("para")).alias("para_hash"))
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
            F.min("doc_id").alias("first_doc_id"),
        )
        .where(F.col("n_docs") >= 2)
    )


def ngram_contamination(
    train: DataFrame,
    evals: DataFrame,
    text_col: str = "text",
    train_id: str = "doc_id",
    eval_id: str = "eval_id",
    n: int = 8,
    min_shared: int = 1,
    max_shingle_df: int | None = 500,
) -> DataFrame:
    """Benchmark DECONTAMINATION: which training documents share long
    word n-grams with an evaluation set (the GPT-3/PaLM-style 8-13-gram
    overlap check run before every serious pre-training job).

    Cross-table variant of the shingle join: distinct n-grams of both
    sides equi-join on the gram — the eval side is tiny next to the
    corpus, so the join broadcasts it; the train side never shuffles.
    ``max_shingle_df`` drops boilerplate grams from the TRAIN side
    first (same quadratic guard as ``ngram_jaccard_pairs``).

    Returns (train_doc_id, eval_doc_id, n_shared_ngrams) for pairs with
    at least ``min_shared`` shared distinct n-grams.
    """
    from pyspark.sql.window import Window

    # hashed shingles from the one-pass Arrow kernel (see
    # _shingle_hash_rows): equality joins and df counts are unchanged,
    # but the train-side pass moves 8-byte hashes instead of ~60-byte
    # 8-gram strings and runs once instead of once per plan branch.
    t_sh = _shingle_hash_rows(train, text_col, train_id, n, "train_doc_id").drop("sz")
    e_sh = _shingle_hash_rows(evals, text_col, eval_id, n, "eval_doc_id").drop("sz")
    # only eval-present grams can form pairs, so restrict the train
    # side FIRST (map-side broadcast semi-join) and apply the df cap to
    # that small subset — a gram's train-df is unchanged by the
    # per-gram restriction, so the cap semantics are identical, but the
    # full-corpus gram aggregation never happens (the step that would
    # dominate at 100 TB).
    t_sh = t_sh.join(
        F.broadcast(e_sh.select("gh").distinct()), "gh", "left_semi"
    )
    # post-semi the train side is small: pin ONE exchange and take both
    # the df cap (window count) and the final join off it — the
    # previous two groupBy branches re-ran the full-corpus tokenize +
    # semi-join per branch (3x the kernel cost)
    t_sh = _pin_pair_join(t_sh, "gh")
    if max_shingle_df is not None:
        t_sh = t_sh.withColumn(
            "sdf", F.count("*").over(Window.partitionBy("gh"))
        ).where(F.col("sdf") <= max_shingle_df)
    return (
        t_sh.join(F.broadcast(e_sh), "gh")
        .groupBy("train_doc_id", "eval_doc_id")
        .agg(F.count("*").alias("n_shared_ngrams"))
        .where(F.col("n_shared_ngrams") >= min_shared)
    )
