"""Property tests for the sketch-based operators (no SQL oracle).

MinHash-LSH is validated against the exact n-gram Jaccard operator;
SimHash against controlled near-duplicate fixtures; SRP-ANN against the
brute-force cosine baseline (recall@k).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dwh_with_dask_spark.operators import dedup as D
from dwh_with_dask_spark.operators import similarity as S
from tests.conftest import SF_CORRECT


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    """Synthetic corpus with planted exact + near duplicates."""
    base = (
        "the quick brown fox jumps over the lazy dog while the cat sleeps "
        "on the warm mat near the old wooden door of the small house"
    )
    near = base.replace("lazy", "sleepy").replace("warm", "cold")
    far = "completely different content about spark engines and parquet files here"
    rows = [
        (1, base),
        (2, base),              # exact dup of 1
        (3, near),              # near dup of 1
        (4, far),
        (5, "short text"),      # shorter than one shingle
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(spark, near_dup_docs):
    out = {r["keep_id"]: r["n_copies"] for r in D.exact_dedup(near_dup_docs).collect()}
    assert out[1] == 2          # docs 1+2 collapse
    assert out[3] == 1 and out[4] == 1 and out[5] == 1


def test_jaccard_finds_planted_near_dup(spark, near_dup_docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.shingle_pairs(
            near_dup_docs, "jaccard", "naive", threshold=0.3
        ).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert 0.5 < pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_minhash_lsh_agrees_with_exact_jaccard(spark, near_dup_docs):
    got = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in D.minhash_lsh_pairs(
            near_dup_docs, num_hashes=64, bands=16, threshold=0.4
        ).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.shingle_pairs(
            near_dup_docs, "jaccard", "naive", threshold=0.3
        ).collect()
    }
    assert got[(1, 2)] == 1.0                  # identical docs always collide
    assert (1, 3) in got                       # near dup found by LSH
    # MinHash estimator: std = sqrt(J(1-J)/64) ≈ 0.06; allow ~3σ.
    assert abs(got[(1, 3)] - exact[(1, 3)]) < 0.2
    assert (1, 4) not in got


def test_minhash_md5_family_matches_hashlib_twin(spark, near_dup_docs):
    """The md5 hash family (the driver oracle's bit-exact path) produces
    the same signature longs as a local hashlib twin: ONE md5 digest per
    shingle, h_i = (a + (i+1)*b) mod 2^32 over its 32-bit halves (the
    2-universal minwise family), min per permutation."""
    import hashlib

    sigs = {
        r["id"]: r["sig"]
        for r in D.minhash_signatures(
            near_dup_docs, num_hashes=8, hash_family="md5"
        ).collect()
    }

    def shingles(text):
        toks = " ".join(text.lower().split()).split(" ")
        return {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }

    def h(shingle, i):
        digest = hashlib.md5(f"{shingle}|mh".encode()).hexdigest()
        a, b = int(digest[:8], 16), int(digest[8:16], 16)
        return (a + (i + 1) * b) % 2 ** 32

    rows = near_dup_docs.collect()
    for r in rows:
        sh = shingles(r["text"])
        if not sh:
            assert r["doc_id"] not in sigs
            continue
        expect = [min(h(s, i) for s in sh) for i in range(8)]
        assert sigs[r["doc_id"]] == expect, r["doc_id"]


def test_simhash_md5_family_matches_hashlib_twin(spark, near_dup_docs):
    """md5-family SimHash (60-bit) fingerprints equal a local twin:
    per-bit majority over 60-bit token hashes with multiplicity."""
    import hashlib

    fps = {
        r["id"]: r["simhash"]
        for r in D.simhash(near_dup_docs, bits=60, hash_family="md5").collect()
    }
    for r in near_dup_docs.collect():
        toks = " ".join(r["text"].lower().split()).split(" ")
        hs = [
            int(hashlib.md5(f"{t}|sh".encode()).hexdigest()[:15], 16)
            for t in toks
        ]
        fp = 0
        for i in range(60):
            ones = sum((x >> i) & 1 for x in hs)
            if 2 * ones > len(hs):
                fp |= 1 << i
        assert fps[r["doc_id"]] == fp, r["doc_id"]


def test_minhash_vs_exact_on_documents_table(spark):
    """On the real documents table: every exact pair with J>=0.5 must be
    recovered by LSH at threshold 0.3 (estimator noise tolerated), and
    LSH must not produce wildly-off estimates for pairs it reports."""
    from dwh_with_dask_spark.catalog import load_table

    docs = load_table(spark, SF_CORRECT, "documents")
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.shingle_pairs(docs, "jaccard", "naive", threshold=0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in D.minhash_lsh_pairs(
            docs, num_hashes=64, bands=16, threshold=0.3
        ).collect()
    }
    missed = [p for p in exact if p not in lsh]
    assert not missed, f"LSH missed high-similarity pairs: {missed}"
    for p, est in lsh.items():
        if p in exact:
            assert abs(est - exact[p]) < 0.35


def test_simhash_near_dup_distance(spark, near_dup_docs):
    fp = {r["id"]: r["simhash"] for r in D.simhash(near_dup_docs).collect()}
    assert fp[1] == fp[2]  # identical text → identical fingerprint

    def hamming(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")

    assert hamming(fp[1], fp[3]) < hamming(fp[1], fp[4])


def test_simhash_pairs_bands(spark, near_dup_docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_pairs(near_dup_docs, max_hamming=3, bands=4).collect()
    }
    assert pairs.get((1, 2)) == 0


def test_ann_recall_vs_brute_force(spark):
    from dwh_with_dask_spark.catalog import load_table

    emb = load_table(spark, SF_CORRECT, "embeddings")
    q = list(emb.filter(F.col("vec_id") == 0).select("embedding").first()[0])
    rest = emb.filter(F.col("vec_id") != 0)
    exact = [r["vec_id"] for r in S.cosine_topk(rest, q, k=10).collect()]
    approx = [
        r["vec_id"]
        for r in S.ann_lsh_topk(
            rest, q, k=10, bits=8, tables=16, multiprobe_hamming=1
        ).collect()
    ]
    recall = len(set(exact) & set(approx)) / 10
    # These embeddings are near-orthogonal random vectors (top-10 cosine
    # ≈ 0.3) — the hardest case for SRP-LSH. (8,16,probe1) predicts ~0.8
    # recall for sims in that band; assert a safe floor well above the
    # ~0.4 candidate-fraction baseline.
    assert recall >= 0.6, f"ANN recall@10 too low: {recall} (exact={exact}, ann={approx})"


def test_cosine_pairs_exact(spark):
    """cosine_pairs on a tiny controlled set: known geometry."""
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),   # near-dup of 1
        (3, [0.0, 1.0, 0.0]),      # orthogonal
        (4, [-1.0, 0.0, 0.0]),     # opposite
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in S.cosine_pairs(df, threshold=0.9).collect()
    }
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] > 0.99


def test_cosine_pairs_blocked_equals_naive(spark):
    """Block-GEMM all-pairs must return exactly the naive join's pairs
    (ids and 6-dp similarities) on real data."""
    from dwh_with_dask_spark.catalog import load_table

    emb = load_table(spark, SF_CORRECT, "embeddings")

    def canon(df):
        return sorted(
            (r["id_a"], r["id_b"], round(r["cosine_sim"], 6))
            for r in df.collect()
        )

    naive = canon(S.cosine_pairs(emb, threshold=0.35))
    blocked = canon(S.cosine_pairs_blocked(emb, threshold=0.35, n_blocks=8))
    assert naive == blocked
    assert len(naive) > 0  # threshold chosen so the check isn't vacuous


def test_ivf_recall_vs_brute_force(spark):
    from dwh_with_dask_spark.catalog import load_table

    emb = load_table(spark, SF_CORRECT, "embeddings")
    q = list(emb.filter(F.col("vec_id") == 0).select("embedding").first()[0])
    rest = emb.filter(F.col("vec_id") != 0)
    exact = [r["vec_id"] for r in S.cosine_topk(rest, q, k=10).collect()]
    approx = [
        r["vec_id"]
        for r in S.ivf_topk(rest, q, k=10, nlist=16, nprobe=4).collect()
    ]
    recall = len(set(exact) & set(approx)) / 10
    # Near-orthogonal random vectors: cells are essentially arbitrary
    # Voronoi chunks, so probing 4/16 cells should still catch a solid
    # fraction of the true top-10; assert above the 25% scan-fraction
    # baseline with margin for the planted-cluster structure.
    assert recall >= 0.3, f"IVF recall@10 too low: {recall} (exact={exact}, ivf={approx})"


def test_srp_index_roundtrip_probe(spark, tmp_path):
    """PRIMARY ANN path: materialize signatures, write, reload, probe the
    stored column — results must equal the in-plan wrapper, and the probe
    plan must not recompute signatures (no pandas UDF after reload)."""
    from dwh_with_dask_spark.catalog import load_table

    emb = load_table(spark, SF_CORRECT, "embeddings")
    q = list(emb.filter(F.col("vec_id") == 0).select("embedding").first()[0])
    rest = emb.filter(F.col("vec_id") != 0)

    idx_path = str(tmp_path / "srp_index")
    S.build_srp_index(rest, bits=8, tables=16).write.parquet(idx_path)
    reloaded = spark.read.parquet(idx_path)

    via_index = S.ann_lsh_topk_indexed(
        reloaded, q, k=10, bits=8, tables=16, multiprobe_hamming=1
    )
    wrapper = S.ann_lsh_topk(rest, q, k=10, bits=8, tables=16, multiprobe_hamming=1)
    assert [r["vec_id"] for r in via_index.collect()] == [
        r["vec_id"] for r in wrapper.collect()
    ]
    plan = via_index._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan, "probe must use stored sigs, not recompute"


def test_ivf_index_partition_pruned_probe(spark, tmp_path):
    """PRIMARY IVF path: write the index partitioned by cell, reload,
    probe — equal to the wrapper, and the scan must be partition-pruned
    to nprobe cells."""
    from dwh_with_dask_spark.catalog import load_table

    emb = load_table(spark, SF_CORRECT, "embeddings")
    q = list(emb.filter(F.col("vec_id") == 0).select("embedding").first()[0])
    rest = emb.filter(F.col("vec_id") != 0)

    indexed, cents = S.build_ivf_index(rest, nlist=16)
    idx_path = str(tmp_path / "ivf_index")
    indexed.write.partitionBy("ivf_cell").parquet(idx_path)
    reloaded = spark.read.parquet(idx_path)

    via_index = S.ivf_topk_indexed(reloaded, cents, q, k=10, nprobe=4)
    wrapper = S.ivf_topk(rest, q, k=10, nlist=16, nprobe=4)
    assert [r["vec_id"] for r in via_index.collect()] == [
        r["vec_id"] for r in wrapper.collect()
    ]
    plan = via_index._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan, "probe must use the stored cell column"


def test_word_ngrams_short_doc(spark):
    df = spark.createDataFrame([("one two",)], "text string")
    out = df.select(D.word_ngrams("text", 3).alias("g")).first()["g"]
    assert out == []


def test_connected_components_transitive_chain(spark):
    """a-b and b-c edges must merge into ONE component even though a and
    c never share an edge (the transitivity the pairwise ops lack), and
    isolated nodes come out as singletons."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 20, 21, 22, 23, 99]], "doc_id long")
    out = {r["doc_id"]: (r["component"], r["is_keeper"]) for r in
           D.dedup_components(nodes, edges).collect()}
    assert out[1] == (1, True) and out[2] == (1, False) and out[3] == (1, False)
    assert out[10] == (10, True) and out[11] == (10, False)
    for n in (20, 21, 22, 23):
        assert out[n][0] == 20
    assert out[99] == (99, True)  # isolated singleton
    # exactly one keeper per component
    comps = {}
    for doc, (c, k) in out.items():
        comps.setdefault(c, 0)
        comps[c] += int(k)
    assert all(v == 1 for v in comps.values())


def test_connected_components_random_graphs_property(spark):
    """Property check vs a union-find oracle on random graphs (seeded):
    identical component partition, not just identical min labels."""
    import random

    for seed in (7, 21, 99):
        rng = random.Random(seed)
        n_nodes, n_edges = 60, 45
        edges = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)
        ]
        edges = [(a, b) for a, b in edges if a != b]

        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {x: find(x) for x in range(n_nodes)}
        # canonical: min node id per component
        roots = {}
        for x, r in want.items():
            roots.setdefault(r, x)
            roots[r] = min(roots[r], x)
        want = {x: roots[find(x)] for x in range(n_nodes)}

        edf = spark.createDataFrame(edges or [(0, 0)], "id_a long, id_b long")
        ndf = spark.createDataFrame([(i,) for i in range(n_nodes)], "doc_id long")
        got = {
            r["doc_id"]: r["component"]
            for r in D.dedup_components(ndf, edf).collect()
        }
        assert got == want, f"seed {seed}"


def test_incremental_dedup_against_stored_index(spark, tmp_path):
    # Corpus indexed once (round-tripped through parquet, as stored);
    # a new batch is checked against the index without re-shingling the
    # corpus: exact dup, near dup, and novel docs flagged correctly.
    # Docs must be mutually DISSIMILAR so near_dup_of resolves uniquely
    # (min corpus id among matches): give each doc its own vocabulary.
    corpus_rows = [
        (i, " ".join(f"tok{i}x{k}" for k in range(14)) + f" filler{i} end{i}")
        for i in range(10)
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    idx_path = str(tmp_path / "corpus_index")
    D.corpus_index(corpus).write.parquet(idx_path)
    index = spark.read.parquet(idx_path)

    near_text = corpus_rows[4][1].replace("filler4", "padding4")
    batch = spark.createDataFrame(
        [
            (100, corpus_rows[7][1]),        # exact dup of corpus id 7
            (101, near_text),                # near dup of corpus id 4
            (102, "entirely novel content nothing like the corpus at all "
                  "with completely distinct vocabulary and structure"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["exact_dup_of"], r["near_dup_of"], r["is_new"])
        for r in D.incremental_dedup(batch, index, threshold=0.5).collect()
    }
    assert out[100][0] == 7 and out[100][2] is False
    assert out[101][0] is None and out[101][1] == 4 and out[101][2] is False
    assert out[102] == (None, None, True)
    # exact dups are near dups too (identical signatures)
    assert out[100][1] == 7


def test_incremental_dedup_short_corpus_doc_exact_match(spark, tmp_path):
    # A corpus doc too short to produce any 3-token shingle has NO
    # MinHash signature row — but its sha256 entry must survive in the
    # index (left join), so an exact duplicate of it is still flagged.
    # Regression: an inner hash⋈sig join dropped short docs entirely and
    # their duplicates came back is_new forever.
    corpus = spark.createDataFrame(
        [(0, "tiny doc"),  # 2 tokens < n=3: no shingles, no signature
         (1, " ".join(f"w{k}" for k in range(20)))],
        "doc_id long, text string",
    )
    idx_path = str(tmp_path / "idx")
    D.corpus_index(corpus).write.parquet(idx_path)
    index = spark.read.parquet(idx_path)

    stored = {r["id"]: r for r in index.collect()}
    assert set(stored) == {0, 1}            # short doc kept its row
    assert stored[0]["text_hash"] is not None
    assert stored[0]["sig"] is None         # ... with a null signature
    assert stored[1]["sig"] is not None

    batch = spark.createDataFrame(
        [(100, "tiny doc"), (101, "another novel short")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["exact_dup_of"], r["is_new"])
        for r in D.incremental_dedup(batch, index, threshold=0.5).collect()
    }
    assert out[100] == (0, False)
    assert out[101] == (None, True)


def test_minhash_signatures_multiset_invariant(spark):
    """minhash_signatures skips the shingle distinct() (round 14):
    min() over the multiset equals min() over the set, so signatures
    must be bit-identical to the deduplicated form — including on a
    doc with heavy internal repetition."""
    rows = [
        (1, "a b c a b c a b c a b c d e f"),   # repeated shingles
        (2, "one two three four five six"),
        (3, "xx"),                                # too short: no sig row
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for fam in ("xxhash64", "md5"):
        got = {
            r["id"]: tuple(r["sig"])
            for r in D.minhash_signatures(docs, hash_family=fam).collect()
        }
        dedup_sh = D._doc_shingles(docs, "doc_id", "text", 3)
        mh = [
            F.min(F.expr(c)).alias(f"h{i}")
            for i, c in enumerate(D._minhash_sql(64, fam))
        ]
        agg = dedup_sh.groupBy("id").agg(*mh)
        want = {
            r["id"]: tuple(r["sig"])
            for r in agg.select(
                "id", F.array(*[f"h{i}" for i in range(64)]).alias("sig")
            ).collect()
        }
        assert got == want, f"family {fam}: multiset != set signatures"
        assert 3 not in got, "shingle-less doc must produce no sig row"


# Multi-candidate counterexample (ADVICE r14 high): two corpus partners
# each agreeing on <50% of signature slots with the batch doc, both LSH
# candidates (share a full band), whose POOLED slot agreements exceed
# 50%. A per-new-id-pooled verify (the pre-round-14 oracle shape) flags
# a false near-dup here; the correct per-pair verify does not. Found by
# scripts/search_multicand.py (md5 family, deterministic).
_MC_T = (
    "w25 w91 w127 w106 w94 w122 w10 w162 w150 w40 w83 w31 w11 w0 w5 w139 "
    "w170 w76 w135 w36 w190 w42 w162 w182 w156 w31 w64 w4 w150 w21 w8 "
    "w173 w106 w77 w4 w47 w23 w76 w6 w34"
)
_MC_A = (
    "w71 w65 w127 w106 w94 w122 w10 w162 w150 w89 w148 w173 w11 w0 w5 "
    "w38 w170 w76 w135 w36 w190 w42 w162 w153 w176 w31 w64 w21 w184 "
    "w133 w8 w173 w99 w77 w141 w47 w23 w34 w6 w50"
)
_MC_B = (
    "w25 w91 w108 w106 w94 w122 w10 w162 w150 w40 w68 w128 w191 w0 w134 "
    "w139 w150 w76 w41 w48 w162 w42 w162 w118 w48 w31 w64 w4 w4 w21 w8 "
    "w173 w106 w77 w4 w47 w23 w121 w98 w26"
)


def _py_md5_sig(text, num_hashes=64, n=3):
    """Pure-Python replica of the md5 minhash family (dedup._minhash_sql)."""
    import hashlib

    t = [w for w in text.lower().split() if w]
    sh = {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}
    sig = [None] * num_hashes
    for s in sh:
        d = hashlib.md5((s + "|mh").encode()).hexdigest()
        a, b = int(d[:8], 16), int(d[8:16], 16)
        for i in range(num_hashes):
            h = (a + (i + 1) * b) % (2 ** 32)
            if sig[i] is None or h < sig[i]:
                sig[i] = h
    return sig


def test_incremental_dedup_multicandidate_no_pooling(spark, tmp_path):
    """Two sub-threshold candidate partners must NOT pool their slot
    agreements into a false near-dup — neither in Spark's
    incremental_dedup nor in the driver's _INCREMENTAL_MD5_ORACLE
    (whose pre-round-14 `near` CTE grouped by new_id only and did
    exactly that pooling)."""
    import duckdb

    from dwh_with_dask_spark.plans.llm import _INCREMENTAL_MD5_ORACLE

    # Precondition guard: the planted texts still have the shape the
    # test depends on (fails loudly if the hash family ever changes).
    st, sa, sb = _py_md5_sig(_MC_T), _py_md5_sig(_MC_A), _py_md5_sig(_MC_B)
    n_a = sum(x == y for x, y in zip(st, sa))
    n_b = sum(x == y for x, y in zip(st, sb))
    assert n_a < 32 and n_b < 32, "each pair must be below threshold 0.5"
    assert n_a + n_b >= 32, "pooled agreements must cross the threshold"
    for s in (sa, sb):
        assert any(
            all(st[band * 4 + j] == s[band * 4 + j] for j in range(4))
            for band in range(16)
        ), "each partner must be an LSH candidate (shared band)"

    # doc_id parity drives the oracle's corpus/batch split: even=corpus.
    rows = [(0, _MC_A), (1, _MC_T), (2, _MC_B)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.write.parquet(str(tmp_path / "documents.parquet"))

    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    idx = D.corpus_index(corpus, hash_family="md5")
    idx.cache()
    out = {
        r["doc_id"]: (r["exact_dup_of"], r["near_dup_of"], r["is_new"])
        for r in D.incremental_dedup(
            batch, idx, threshold=0.5, hash_family="md5"
        ).collect()
    }
    idx.unpersist()
    assert out[1] == (None, None, True), (
        "sub-threshold partners pooled into a false near-dup"
    )

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    oracle = con.sql(_INCREMENTAL_MD5_ORACLE).fetchall()
    assert oracle == [(1, None, None, True)], (
        "oracle must apply the threshold per pair, not pooled per new_id"
    )

    # The pooled shape (pre-fix) DOES flag it — proves the test has teeth.
    pooled_sql = _INCREMENTAL_MD5_ORACLE.replace(
        "GROUP BY cd.new_id, cd.corpus_id", "GROUP BY cd.new_id"
    ).replace(
        "SELECT cd.new_id, cd.corpus_id, COUNT(*) AS n_agree",
        "SELECT cd.new_id, MIN(cd.corpus_id) AS corpus_id, "
        "COUNT(*) AS n_agree",
    )
    pooled = con.sql(pooled_sql).fetchall()
    con.close()
    assert pooled == [(1, None, 0, False)], (
        "expected the pooled variant to produce the false near-dup this "
        "test plants; if it stops doing so the fixture needs re-deriving"
    )


# --------------------------------------------------------------------------
# SemDeDup-style semantic dedup (cell-scoped greedy cosine pruning)
# --------------------------------------------------------------------------

def test_hard_negatives_matches_bruteforce(spark):
    """hard_negatives == per-anchor brute-force top-k over different-
    label vectors (numpy twin); same-label and self rows never appear."""
    import numpy as np

    rng = np.random.default_rng(5)
    n, dim = 40, 8
    mat = rng.normal(size=(n, dim))
    labels = [i % 3 for i in range(n)]
    rows = [(i, [float(x) for x in mat[i]], labels[i]) for i in range(n)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    anchors = df.filter(F.col("vec_id") < 4)
    got = [
        (r.anchor_id, r.neg_id, r.rank)
        for r in S.hard_negatives(df, anchors, k=3).collect()
    ]

    def cos(a, b):
        return float(mat[a] @ mat[b]) / (
            float(np.linalg.norm(mat[a])) * float(np.linalg.norm(mat[b]))
        )

    want = []
    for a in range(4):
        cands = [
            (i, cos(a, i)) for i in range(n)
            if labels[i] != labels[a] and i != a
        ]
        cands.sort(key=lambda t: (-t[1], t[0]))
        want += [(a, i, r + 1) for r, (i, _) in enumerate(cands[:3])]
    assert sorted(got) == sorted(want)
    # never a same-label or self negative
    for a, i, _ in got:
        assert labels[i] != labels[a] and i != a


def test_semantic_dedup_single_cell_exact(spark):
    """nlist=1 puts everything in one cell: the greedy min-id semantics
    are fully determined and checkable by hand."""
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),    # near-dup of 1
        (3, [0.0, 1.0, 0.0]),       # orthogonal keeper
        (4, [0.01, 0.999, 0.0]),    # near-dup of 3
        (5, [0.999, 0.012, 0.0]),   # near-dup of 1 AND 2 -> dup_of = 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in S.semantic_dedup(df, threshold=0.95, nlist=1).collect()}
    assert out[1]["is_kept"] and out[1]["dup_of"] is None
    assert not out[2]["is_kept"] and out[2]["dup_of"] == 1
    assert out[3]["is_kept"] and out[3]["dup_of"] is None
    assert not out[4]["is_kept"] and out[4]["dup_of"] == 3
    assert not out[5]["is_kept"] and out[5]["dup_of"] == 1


def test_semantic_dedup_cell_local_greedy_property(spark):
    """On real embeddings: recompute each cell's greedy prune with numpy
    from the SAME deterministic cell assignment and require exact
    agreement (ids kept, ids dropped, dup_of links)."""
    import numpy as np

    from dwh_with_dask_spark.catalog import load_table

    emb = load_table(spark, SF_CORRECT, "embeddings")
    thr, nlist = 0.35, 8
    got = {
        r["vec_id"]: (r["is_kept"], r["dup_of"])
        for r in S.semantic_dedup(emb, threshold=thr, nlist=nlist).collect()
    }

    indexed, _ = S.build_ivf_index(emb, nlist=nlist)
    rows = indexed.select("vec_id", "embedding", "ivf_cell").collect()
    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(r["ivf_cell"], []).append((r["vec_id"], r["embedding"]))

    expected = {}
    for _cell, members in by_cell.items():
        members.sort()
        ids = np.array([m[0] for m in members])
        mat = np.array([m[1] for m in members], dtype=np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        sims = mat @ mat.T
        for i in range(len(ids)):
            js = np.nonzero(sims[i, :i] >= thr)[0]
            if len(js):
                expected[int(ids[i])] = (False, int(ids[js[0]]))
            else:
                expected[int(ids[i])] = (True, None)

    assert got == expected
    assert any(not kept for kept, _ in got.values())  # non-vacuous


def test_semantic_dedup_giant_cell_tiled_equals_oneshot(spark):
    """VERDICT r5 ask #6: a cell larger than max_cell_rows runs the
    tiled exact path — keepers and dup_of links must be IDENTICAL to
    the one-shot m×m path on the same (deliberately oversized) cell."""
    from dwh_with_dask_spark.catalog import load_table

    emb = load_table(spark, SF_CORRECT, "embeddings")
    thr = 0.35
    # nlist=1 -> ONE cell holding the whole table (the oversized cell);
    # max_cell_rows=64 forces tiling, default leaves the one-shot path
    one_shot = {
        r["vec_id"]: (r["is_kept"], r["dup_of"])
        for r in S.semantic_dedup(emb, threshold=thr, nlist=1).collect()
    }
    tiled = {
        r["vec_id"]: (r["is_kept"], r["dup_of"])
        for r in S.semantic_dedup(
            emb, threshold=thr, nlist=1, max_cell_rows=64
        ).collect()
    }
    assert tiled == one_shot
    assert any(not kept for kept, _ in tiled.values())  # non-vacuous
    # and with an UNEVEN tile boundary (non-divisor block size)
    tiled97 = {
        r["vec_id"]: (r["is_kept"], r["dup_of"])
        for r in S.semantic_dedup(
            emb, threshold=thr, nlist=1, max_cell_rows=97
        ).collect()
    }
    assert tiled97 == one_shot


@pytest.mark.parametrize(
    "geometry,floor",
    [("clustered", 0.9), ("near_orthogonal", 0.15)],
)
def test_ivf_recall_floor_by_geometry(spark, geometry, floor):
    """VERDICT r6 ask #4: IVF's recall is geometry-dependent, so the
    floor test says so explicitly. On a mixture-of-Gaussians fixture
    (the regime real embedding corpora live in: ANN.md clustered
    section measured 1.0 at nprobe=1) the nprobe=2/nlist=16 probe must
    hold mean recall@10 >= 0.9; on near-orthogonal random vectors the
    same setting is only floored at 0.15 — the honest ceiling ANN.md's
    sf1 table documents, pinned here so neither regime's number gets
    quoted for the other."""
    import numpy as np

    n, dim, nlist, nprobe = 4000, 32, 16, 2
    rng = np.random.default_rng(11)
    if geometry == "clustered":
        centers = rng.normal(size=(nlist, dim))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        mat = centers[np.arange(n) % nlist] + 0.05 * rng.normal(size=(n, dim))
    else:
        mat = rng.normal(size=(n, dim))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    ids = np.arange(n)

    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in mat[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).repartition(8)
    indexed, cents = S.build_ivf_index(emb, nlist=nlist)
    indexed = indexed.persist()
    indexed.count()
    try:
        recalls = []
        for qi in rng.permutation(n)[:10]:
            sims = mat @ mat[qi]
            truth = set(ids[np.lexsort((ids, -sims))[:10]].tolist())
            got = {
                r.vec_id
                for r in S.ivf_topk_indexed(
                    indexed, cents, [float(x) for x in mat[qi]], k=10,
                    nprobe=nprobe,
                ).collect()
            }
            recalls.append(len(got & truth) / 10)
        mean = sum(recalls) / len(recalls)
        assert mean >= floor, f"{geometry}: mean recall {mean} < {floor}: {recalls}"
    finally:
        indexed.unpersist()


def test_ivfpq_rerank_recall_clustered(spark):
    """VERDICT r7 ask #2: the production shape ANN.md recommends —
    IVF-PQ ADC candidates + exact cosine rerank — as a real operator
    with a recall floor. On the clustered fixture (the regime the
    recommendation targets), rerank-100 at nprobe=2 must hold mean
    recall@10 >= 0.9 AND strictly beat the plain ADC top-10 (PQ code
    resolution is the loss rerank exists to recover). Exactness: every
    returned score equals the numpy cosine."""
    import numpy as np

    n, dim, nlist, nprobe = 4000, 32, 16, 2
    rng = np.random.default_rng(11)
    centers = rng.normal(size=(nlist, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    mat = centers[np.arange(n) % nlist] + 0.05 * rng.normal(size=(n, dim))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    ids = np.arange(n)

    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in mat[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).repartition(8)
    indexed, cents, books = S.build_ivfpq_index(emb, nlist=nlist, m=16, ksub=32)
    indexed = indexed.persist()
    indexed.count()
    try:
        rr, adc = [], []
        for qi in rng.permutation(n)[:10]:
            sims = mat @ mat[qi]
            truth = set(ids[np.lexsort((ids, -sims))[:10]].tolist())
            q = [float(x) for x in mat[qi]]
            got_rows = S.ivfpq_topk_rerank(
                indexed, cents, books, emb, q, k=10, rerank=100,
                nprobe=nprobe,
            ).collect()
            got = {r.vec_id for r in got_rows}
            for r in got_rows:  # exactness of the rerank scores
                assert abs(r.score - float(mat[r.vec_id] @ mat[qi])) < 1e-9
            rr.append(len(got & truth) / 10)
            plain = {
                r.vec_id
                for r in S.ivfpq_topk_indexed(
                    indexed, cents, books, q, k=10, nprobe=nprobe
                ).collect()
            }
            adc.append(len(plain & truth) / 10)
        mean_rr, mean_adc = sum(rr) / len(rr), sum(adc) / len(adc)
        assert mean_rr >= 0.9, f"rerank recall {mean_rr}: {rr}"
        assert mean_rr > mean_adc, f"rerank {mean_rr} <= plain ADC {mean_adc}"
    finally:
        indexed.unpersist()


def test_ann_recommended_recall_floor(spark):
    """Floor test for ANN.md's recommended setting: SRP (bits=8,
    tables=16), averaged over 20 seeded queries on the checked-in
    corpus. Radius-2 multiprobe (the query-time recall knob — no index
    rebuild) must hold mean recall@10 >= 0.9; radius 1 is floored at
    0.8 as a regression guard (measured 0.895 mean / ANN.md)."""
    import numpy as np

    from dwh_with_dask_spark.catalog import load_table

    emb = load_table(spark, SF_CORRECT, "embeddings")
    idx = S.build_srp_index(emb).persist()
    idx.count()
    try:
        rows = emb.select("vec_id", "embedding").collect()
        ids = np.array([r["vec_id"] for r in rows])
        mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        qidx = np.random.default_rng(7).permutation(len(ids))[:20]

        recalls = {1: [], 2: []}
        for qi in qidx:
            sims = mat @ mat[qi]
            truth = set(ids[np.lexsort((ids, -sims))[:10]].tolist())
            for mh in (1, 2):
                got = {
                    r["vec_id"]
                    for r in S.ann_lsh_topk_indexed(
                        idx, [float(x) for x in mat[qi]], k=10,
                        multiprobe_hamming=mh,
                    ).collect()
                }
                recalls[mh].append(len(got & truth) / 10)
        mean1 = sum(recalls[1]) / len(recalls[1])
        mean2 = sum(recalls[2]) / len(recalls[2])
        assert mean2 >= 0.9, f"radius-2 mean recall {mean2} < 0.9: {recalls[2]}"
        assert mean1 >= 0.8, f"radius-1 mean recall {mean1} < 0.8: {recalls[1]}"
    finally:
        idx.unpersist()


def test_duplicate_spans_cross_and_within_doc(spark):
    """Hand-computed ExactSubstr coverage: cross-doc repeats, exact
    within-doc tiling, and overlapping-window interval merge."""
    uniq = "u{} v{} w{}"  # unique filler so only planted grams collide
    docs = [
        # doc 1 / doc 2 share one 8-token run at different offsets
        (1, "a b c d e f g h " + " ".join(uniq.format(i, i, i) for i in range(4))),
        (2, " ".join(uniq.format(90 + i, 90 + i, 90 + i) for i in range(3))
            + " a b c d e f g h"),
        # doc 3: 8-token unit exactly repeated -> dup windows {0, 8},
        # merged coverage 16
        (3, "p q r s t u v w p q r s t u v w"),
        # doc 4: 9-token unit repeated -> dup windows {0,1,9,10},
        # intervals [0,8)[1,9)[9,17)[10,18) merge to 18
        (4, "m n o p q r s t u m n o p q r s t u"),
        # doc 5: all-unique tokens -> no dup rows at all
        (5, " ".join(f"x{i} y{i}" for i in range(10))),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_dup_windows, r.dup_tokens)
        for r in D.duplicate_spans(d, k=8).collect()
    }
    assert got == {1: (1, 8), 2: (1, 8), 3: (2, 16), 4: (4, 18)}


def test_duplicate_spans_matches_python_reference(spark):
    """Seeded fuzz vs a direct single-machine reference (dict of gram
    counts + interval merge) on a corpus with planted repeats."""
    import random

    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(30)]
    boiler = [f"b{i}" for i in range(12)]  # shared boilerplate run
    texts = []
    for i in range(60):
        toks = [rng.choice(vocab) for _ in range(rng.randint(5, 40))]
        if i % 3 == 0:
            at = rng.randint(0, len(toks))
            toks[at:at] = boiler
        texts.append((i, " ".join(toks)))
    k = 8

    from collections import Counter, defaultdict

    counts: Counter = Counter()
    pos_by_doc: dict[int, list[tuple[int, str]]] = defaultdict(list)
    for i, t in texts:
        toks = t.split()
        for p in range(len(toks) - k + 1):
            g = " ".join(toks[p : p + k])
            counts[g] += 1
            pos_by_doc[i].append((p, g))
    want = {}
    for i, pws in pos_by_doc.items():
        dup = sorted(p for p, g in pws if counts[g] >= 2)
        if not dup:
            continue
        covered, end = 0, 0
        for p in dup:
            covered += max(0, p + k - max(p, end))
            end = max(end, p + k)
        want[i] = (len(dup), covered)

    d = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_dup_windows, r.dup_tokens)
        for r in D.duplicate_spans(d, k=k).collect()
    }
    assert got == want


def test_incremental_spans_equals_full_recompute(spark):
    """incremental_duplicate_spans(batch, index(corpus)) must equal
    duplicate_spans(corpus + batch) restricted to batch docs — the
    never-re-shingle-the-corpus contract, on a fuzz corpus with planted
    cross-side and batch-internal repeats."""
    import random

    rng = random.Random(13)
    vocab = [f"t{i}" for i in range(25)]
    boiler = [f"b{i}" for i in range(10)]
    rows = []
    for i in range(80):
        toks = [rng.choice(vocab) for _ in range(rng.randint(5, 30))]
        if i % 3 == 0:  # hits both parities -> cross-side AND
            at = rng.randint(0, len(toks))  # batch-internal repeats
            toks[at:at] = boiler
        rows.append((i, " ".join(toks)))
    d = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    batch = d.filter(F.col("doc_id") % 2 == 1)

    k = 8
    full = {
        r.doc_id: (r.n_dup_windows, r.dup_tokens)
        for r in D.duplicate_spans(d, k=k).collect()
        if r.doc_id % 2 == 1
    }
    idx = D.build_span_index(corpus, k=k).persist()
    try:
        inc = {
            r.doc_id: (r.n_dup_windows, r.dup_tokens)
            for r in D.incremental_duplicate_spans(batch, idx, k=k).collect()
        }
    finally:
        idx.unpersist()
    assert inc == full
    assert inc  # fixture must actually exercise the path


def test_span_removal_keeps_first_occurrence(spark):
    docs = [
        (1, "a b c d e f g h j1 k1 j2 k2 j3 k3"),
        (2, "m1 n1 m2 n2 m3 n3 a b c d e f g h"),
        (3, "p q r s t u v w p q r s t u v w"),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
        for r in D.duplicate_span_removal(d, k=8).collect()
    }
    # doc 1 holds the canonical (smallest doc_id) instance -> intact
    assert got[1] == (14, 0, "a b c d e f g h j1 k1 j2 k2 j3 k3")
    # doc 2's copy is cut
    assert got[2] == (14, 8, "m1 n1 m2 n2 m3 n3")
    # within-doc tiling: second occurrence cut, first kept
    assert got[3] == (16, 8, "p q r s t u v w")


def test_span_removal_matches_python_reference(spark):
    import random
    from collections import Counter, defaultdict

    rng = random.Random(23)
    vocab = [f"t{i}" for i in range(25)]
    boiler = [f"b{i}" for i in range(11)]
    texts = []
    for i in range(50):
        toks = [rng.choice(vocab) for _ in range(rng.randint(5, 35))]
        if i % 3 == 0:
            at = rng.randint(0, len(toks))
            toks[at:at] = boiler
        texts.append((i, " ".join(toks)))
    k = 8

    counts: Counter = Counter()
    first: dict[str, tuple[int, int]] = {}
    wins: dict[int, list[tuple[int, str]]] = defaultdict(list)
    for i, t in texts:
        toks = t.split()
        for p in range(len(toks) - k + 1):
            g = " ".join(toks[p : p + k])
            counts[g] += 1
            first.setdefault(g, (i, p))
            wins[i].append((p, g))
    want = {}
    for i, t in texts:
        toks = t.split()
        if len(toks) < k:
            continue
        cuts = sorted(
            p for p, g in wins[i] if counts[g] >= 2 and first[g] != (i, p)
        )
        removed = set()
        for p in cuts:
            removed.update(range(p, p + k))
        clean = " ".join(tok for j, tok in enumerate(toks) if j not in removed)
        want[i] = (len(toks), len(removed), clean)

    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
        for r in D.duplicate_span_removal(
            spark.createDataFrame(texts, "doc_id long, text string"), k=k
        ).collect()
    }
    assert got == want


def test_span_operators_edge_cases(spark):
    import pytest as _pytest

    d = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a b")], "doc_id long, text string"
    )
    # null/empty/short docs produce no windows and no rows — no errors
    assert D.duplicate_spans(d, k=8).collect() == []
    assert D.duplicate_span_removal(d, k=8).collect() == []
    assert D.build_span_index(d, k=8).collect() == []
    with _pytest.raises(ValueError):
        D.duplicate_spans(d, k=0)


def test_pq_scores_match_numpy_adc_twin(spark):
    """Spark ADC scores must equal the numpy asymmetric-distance twin
    (same codebooks, same lookup tables) to float precision, and the
    codes must be valid subspace ids."""
    import numpy as np

    from dwh_with_dask_spark.catalog import load_table

    emb = load_table(spark, SF_CORRECT, "embeddings")
    q = list(emb.filter(F.col("vec_id") == 0).select("embedding").first()[0])
    rest = emb.filter(F.col("vec_id") != 0)
    books = S.pq_train(rest, m=16, ksub=64)
    m, ksub, dsub = books.shape
    idx = S.build_pq_index(rest, books).persist()
    try:
        rows = idx.select("vec_id", "embedding", "pq_code").collect()
        assert all(
            len(r.pq_code) == m and all(0 <= c < ksub for c in r.pq_code)
            for r in rows
        )
        qn = np.asarray(q, dtype=np.float64)
        qn = qn / np.linalg.norm(qn)
        table = np.stack(
            [books[j] @ qn[j * dsub : (j + 1) * dsub] for j in range(m)]
        )
        want = {
            r.vec_id: sum(float(table[j][r.pq_code[j]]) for j in range(m))
            for r in rows
        }
        got = {
            r.vec_id: r.pq_score
            for r in S.pq_topk_indexed(idx, books, q, k=len(rows)).collect()
        }
        assert set(got) == set(want)
        for vid in got:
            assert abs(got[vid] - want[vid]) < 1e-9
    finally:
        idx.unpersist()


def test_pq_recall_vs_brute_force(spark):
    """PQ top-10 must beat the random baseline decisively on the
    near-orthogonal sf embeddings (the hardest regime for coarse
    quantization — floor pinned from a measured run)."""
    from dwh_with_dask_spark.catalog import load_table

    emb = load_table(spark, SF_CORRECT, "embeddings")
    q = list(emb.filter(F.col("vec_id") == 0).select("embedding").first()[0])
    rest = emb.filter(F.col("vec_id") != 0)
    exact = [r.vec_id for r in S.cosine_topk(rest, q, k=10).collect()]
    # m=16/ksub=64 on these 64-dim near-orthogonal vectors measured 0.8
    # recall in the numpy twin (dsub=4 is the workable regime; dsub=16
    # with 16 centroids reconstructs nothing and was measured at 0.0)
    books = S.pq_train(rest, m=16, ksub=64)
    idx = S.build_pq_index(rest, books)
    approx = [r.vec_id for r in S.pq_topk_indexed(idx, books, q, k=10).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, f"PQ recall@10 too low: {recall}"


def test_pq_train_guards(spark):
    import pytest as _pytest

    d = spark.createDataFrame(
        [(i, [float(i), 0.0, 0.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(ValueError):
        S.pq_train(d, m=2)  # dim 3 not divisible by 2
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError):
        S.pq_train(empty, m=1)


def test_ivfpq_scores_match_numpy_twin_and_recall(spark):
    """IVF-PQ ADC scores must equal the numpy twin (bias + residual
    table lookups) at 1e-9, and residual quantization must beat the
    flat-PQ recall floor when probing every cell."""
    import numpy as np

    from dwh_with_dask_spark.catalog import load_table

    emb = load_table(spark, SF_CORRECT, "embeddings")
    q = list(emb.filter(F.col("vec_id") == 0).select("embedding").first()[0])
    rest = emb.filter(F.col("vec_id") != 0)
    exact = [r.vec_id for r in S.cosine_topk(rest, q, k=10).collect()]

    idx, cents, books = S.build_ivfpq_index(rest, nlist=16, m=16, ksub=64)
    idx = idx.persist()
    try:
        m, ksub, dsub = books.shape
        qn = np.asarray(q, dtype=np.float64)
        qn = qn / np.linalg.norm(qn)
        bias = cents @ qn
        table = np.stack(
            [books[j] @ qn[j * dsub : (j + 1) * dsub] for j in range(m)]
        )
        rows = idx.select("vec_id", "ivf_cell", "pq_code").collect()
        want = {
            r.vec_id: float(bias[r.ivf_cell])
            + sum(float(table[j][r.pq_code[j]]) for j in range(m))
            for r in rows
        }
        got = {
            r.vec_id: r.pq_score
            for r in S.ivfpq_topk_indexed(
                idx, cents, books, q, k=len(rows), nprobe=16
            ).collect()
        }
        assert set(got) == set(want)
        for vid in got:
            assert abs(got[vid] - want[vid]) < 1e-9

        approx = [
            r.vec_id
            for r in S.ivfpq_topk_indexed(
                idx, cents, books, q, k=10, nprobe=16
            ).collect()
        ]
        recall = len(set(exact) & set(approx)) / 10
        assert recall >= 0.5, f"IVF-PQ recall@10 too low: {recall}"
    finally:
        idx.unpersist()


def test_ivfpq_index_save_load_round_trip(spark, tmp_path):
    """save_ivfpq_index/load_ivfpq_index: the stored probe returns the
    IDENTICAL top-k as the in-memory index (same centroids, codebooks,
    codes), stores only (id, cell, code) — never the float vectors —
    and the probe's cell filter lands in PartitionFilters (directory
    pruning over the cell layout)."""
    import numpy as np

    n, dim, nlist = 600, 16, 8
    rng = np.random.default_rng(7)
    mat = rng.normal(size=(n, dim))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in mat[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).repartition(4)
    idx, cents, books = S.build_ivfpq_index(emb, nlist=nlist, m=8, ksub=16)
    q = [float(x) for x in mat[3]]
    want = S.ivfpq_topk_rerank(
        idx, cents, books, emb, q, k=10, rerank=50, nprobe=2
    ).collect()

    path = str(tmp_path / "ivfpq_idx")
    S.save_ivfpq_index(idx, cents, books, path)
    idx2, cents2, books2 = S.load_ivfpq_index(spark, path)
    assert np.array_equal(cents, cents2) and np.array_equal(books, books2)
    # stored data columns: id + code only; ivf_cell and __seg are
    # partition DIRECTORIES (the float vectors are never stored)
    assert set(idx2.columns) == {"vec_id", "pq_code", "ivf_cell", "__seg"}
    got_df = S.ivfpq_topk_rerank(
        idx2, cents2, books2, emb, q, k=10, rerank=50, nprobe=2
    )
    got = got_df.collect()
    assert [(r.vec_id, round(r.score, 9)) for r in got] == [
        (r.vec_id, round(r.score, 9)) for r in want
    ]
    # the ADC candidate scan prunes stored cell partitions
    cand_plan = (
        S.ivfpq_topk_indexed(idx2, cents2, books2, q, k=50, nprobe=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [" in cand_plan
    assert "ivf_cell" in cand_plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    # refuses to clobber; overwrite works
    import pytest

    with pytest.raises(FileExistsError):
        S.save_ivfpq_index(idx, cents, books, path)
    S.save_ivfpq_index(idx, cents, books, path, overwrite=True)


def test_ivfpq_failed_overwrite_keeps_old_index(spark, tmp_path, monkeypatch):
    """save_ivfpq_index(overwrite=True) that fails mid-build leaves the
    existing store loadable (staging built fully before the
    rename-aside swap; ADVICE r10)."""
    import numpy as np

    emb = spark.createDataFrame(
        [(int(i), [float(i), 1.0, 0.0, float(i % 3)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    idx, cents, books = S.build_ivfpq_index(emb, nlist=2, m=2, ksub=4)
    path = str(tmp_path / "ivfpq_idx")
    S.save_ivfpq_index(idx, cents, books, path)
    before_idx, before_c, before_b = S.load_ivfpq_index(spark, path)
    before = sorted(map(tuple, before_idx.collect()))

    def boom(*a, **k):
        raise RuntimeError("simulated build failure")

    monkeypatch.setattr(S, "_ivfpq_write_segment", boom)
    with pytest.raises(RuntimeError):
        S.save_ivfpq_index(idx, cents, books, path, overwrite=True)
    monkeypatch.undo()
    after_idx, after_c, after_b = S.load_ivfpq_index(spark, path)
    assert sorted(map(tuple, after_idx.collect())) == before
    assert np.array_equal(after_c, before_c)
    assert np.array_equal(after_b, before_b)


def test_ivfpq_append_equals_union_encoded_same_geometry(spark, tmp_path):
    """append_ivfpq_index (VERDICT r9 ask #5): appending a batch to a
    stored index equals encoding the union under the SAME frozen
    geometry in one shot — the append changes which rows are indexed,
    never how a row scores (a full RETRAIN on the union is a different
    index by construction: k-means geometry is approximate global
    state, unlike BM25's exact integers — that's the documented
    staleness caveat the drift report exists for)."""
    import json
    import os

    import numpy as np

    n, dim, nlist = 600, 16, 8
    rng = np.random.default_rng(11)
    mat = rng.normal(size=(n + 130, dim))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)

    def frame(lo, hi):
        return spark.createDataFrame(
            [(int(i), [float(x) for x in mat[i]]) for i in range(lo, hi)],
            "vec_id long, embedding array<double>",
        ).repartition(4)

    base, batch, union = frame(0, n), frame(n, n + 120), frame(0, n + 120)
    idx, cents, books = S.build_ivfpq_index(base, nlist=nlist, m=8, ksub=16)
    path = str(tmp_path / "ivfpq_inc")
    S.save_ivfpq_index(idx, cents, books, path)

    report = S.append_ivfpq_index(batch, path)
    assert report["segment"] == 1 and report["n"] == 120
    # both drift legs measured from true residual norms (floats in hand)
    assert report["mean_assign_dist"] > 0
    assert report["base_mean_assign_dist"] > 0
    assert report["drift_ratio"] == (
        report["mean_assign_dist"] / report["base_mean_assign_dist"]
    )
    # the append wrote one new segment; seg 0's sidecar is untouched
    with open(os.path.join(path, "__seg=0", "_ivfpq_seg.json")) as f:
        assert json.load(f)["n"] == n

    idx2, cents2, books2 = S.load_ivfpq_index(spark, path)
    q = [float(x) for x in mat[3]]
    got = S.ivfpq_topk_rerank(
        idx2, cents2, books2, union, q, k=10, rerank=60, nprobe=3
    ).collect()
    # the reference: the union encoded under the SAME geometry
    ref_idx = S.encode_ivfpq(union, cents, books)
    want = S.ivfpq_topk_rerank(
        ref_idx, cents, books, union, q, k=10, rerank=60, nprobe=3
    ).collect()
    assert [(r.vec_id, round(r.score, 9)) for r in got] == [
        (r.vec_id, round(r.score, 9)) for r in want
    ]
    # appended rows are genuinely retrievable: a query AT a batch
    # vector must surface it first (exact rerank recovers it)
    qb = [float(x) for x in mat[n + 5]]
    top = S.ivfpq_topk_rerank(
        idx2, cents2, books2, union, qb, k=3, rerank=60, nprobe=nlist
    ).collect()
    assert top[0].vec_id == n + 5

    # crash litter: a half-written append's DOT-prefixed staging inside
    # the index is invisible to loads and cleared by the next append
    litter = os.path.join(path, ".__seg=7.inprogress")
    os.makedirs(os.path.join(litter, "ivf_cell=0"), exist_ok=True)
    with open(os.path.join(litter, "ivf_cell=0", "junk.parquet"), "w") as f:
        f.write("not parquet")
    idx3, _, _ = S.load_ivfpq_index(spark, path)
    assert idx3.count() == n + 120
    r2 = S.append_ivfpq_index(frame(n + 120, n + 121), path)
    assert r2["segment"] == 2 and not os.path.exists(litter)


def test_ivfpq_rerank_indexed_query_equals_build_inclusive(spark):
    """The stored-index driver query (embedding_ivfpq_rerank_indexed)
    must return exactly the build-inclusive query's rows — the index
    build is deterministic (id-seeded k-means, no RNG), so caching it
    changes WHERE the work happens, never the answer."""
    from tests.conftest import SF_SMOKE

    from dwh_with_dask_spark.plans import QUERIES

    a = QUERIES["embedding_ivfpq_rerank_topk"](spark, SF_SMOKE).collect()
    b = QUERIES["embedding_ivfpq_rerank_indexed"](spark, SF_SMOKE).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def _brute_longest_repeats(docs):
    """Quadratic reference: for every (doc, pos), the longest prefix of
    that suffix occurring at any OTHER corpus position."""
    toks = {i: t.lower().split() for i, t in docs}
    sufs = [(i, p) for i, t in toks.items() for p in range(len(t))]
    rep = {}
    for i, p in sufs:
        a = toks[i][p:]
        best = 0
        for j, q in sufs:
            if (i, p) == (j, q):
                continue
            b = toks[j][q:]
            m = 0
            while m < len(a) and m < len(b) and a[m] == b[m]:
                m += 1
            best = max(best, m)
        rep[(i, p)] = best
    return rep


def test_suffix_longest_repeats_match_bruteforce(spark):
    """The distributed prefix-doubling suffix array reports the EXACT
    longest-repeat length per position — verified against a quadratic
    in-Python reference on a corpus with variable-length overlaps,
    within-doc repeats, equal complete suffixes (the shared-sentinel
    clamp case), and a unique-token doc."""
    from dwh_with_dask_spark.operators.suffix import longest_repeats

    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "a quick brown fox ran away"),
        (3, "over the lazy dog they jumped"),
        (4, "completely unique tokens here zebra"),
        (5, "the lazy dog"),          # equal complete suffix vs doc 1/3
        (6, "echo echo echo echo"),   # within-doc variable repeat
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.id, r.pos): r.rep for r in longest_repeats(d).collect()
    }
    want = _brute_longest_repeats(docs)
    assert got == want
    # spot-check the semantics the fixed-k scheme cannot express:
    # doc 1 pos 5 = "over the lazy dog" repeats with TRUE length 4
    assert want[(1, 5)] == 4
    # doc 6: suffix "echo echo echo" recurs (shifted) with length 3
    assert want[(6, 0)] == 3
    # the unique doc has zero-length repeats except any shared tokens
    assert all(
        v == 0 for (i, _), v in want.items() if i == 4
    )


def test_suffix_spans_equal_fixed_k_coverage(spark):
    """Coverage-equivalence theorem (documented in suffix.py): variable-
    length coverage at min_len=k equals the hashed fixed-k scheme's
    (n_dup_windows, dup_tokens) exactly — on a corpus with repeats
    longer than, equal to, and shorter than k."""
    from dwh_with_dask_spark.operators.dedup import duplicate_spans
    from dwh_with_dask_spark.operators.suffix import suffix_duplicate_spans

    boiler = "all rights reserved contact us at example dot com for info"
    rows = [
        (1, f"alpha beta {boiler} gamma delta"),
        (2, f"{boiler} unrelated tail text here"),
        (3, "alpha beta gamma delta short repeat alpha beta"),
        (4, "no duplication in this document at all whatsoever"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    for k in (3, 8):
        want = sorted(
            map(tuple, duplicate_spans(d, k=k).collect())
        )
        got = sorted(
            map(tuple, suffix_duplicate_spans(d, min_len=k).collect())
        )
        assert got == want, f"k={k}: {got} != {want}"


def _brute_suffix_removal(docs, min_len):
    """Quadratic reference for suffix_span_removal's documented rule:
    SA runs chained by adjacent LCP >= min_len, canonical = smallest
    (id, pos), non-canonicals cut [pos, pos + LCP-to-canonical)."""
    toks = {i: t.lower().split() for i, t in docs}
    sufs = sorted(
        (tuple(t[p:]), i, p)
        for i, t in toks.items()
        for p in range(len(t))
    )

    def lcp(a, b):
        m = 0
        while m < len(a) and m < len(b) and a[m] == b[m]:
            m += 1
        return m

    adj = [lcp(sufs[k - 1][0], sufs[k][0]) for k in range(1, len(sufs))]
    cuts = {}
    k = 0
    while k < len(sufs):
        # run start: this suffix chains forward with >= min_len
        if k + 1 - 1 < len(adj) and k < len(adj) and adj[k] >= min_len:
            end = k
            while end < len(adj) and adj[end] >= min_len:
                end += 1
            run = list(range(k, end + 1))
            canon = min(run, key=lambda x: (sufs[x][1], sufs[x][2]))
            for m in run:
                if m == canon:
                    continue
                lo, hi = (m, canon) if m < canon else (canon, m)
                shared = min(adj[lo:hi])
                _, i, p = sufs[m]
                cuts.setdefault(i, []).append((p, p + shared))
            k = end + 1
        else:
            k += 1
    out = {}
    for i, t in toks.items():
        if len(t) < min_len:
            continue
        ivs = sorted(cuts.get(i, []))
        merged = []
        for s, e in ivs:
            if merged and s < merged[-1][1]:
                merged[-1] = (merged[-1][0], max(merged[-1][1], e))
            else:
                merged.append((s, e))
        removed = set()
        for s, e in merged:
            removed.update(range(s, e))
        kept = [w for p, w in enumerate(t) if p not in removed]
        out[i] = (len(t), len(removed), " ".join(kept))
    return out


def test_suffix_span_removal_matches_bruteforce(spark):
    """Variable-length removal equals the quadratic reference rule
    exactly — the canonical copy survives intact, every non-canonical
    occurrence is cut at its TRUE shared extent (not a k-window
    union), and too-short docs are excluded."""
    from dwh_with_dask_spark.operators.suffix import suffix_span_removal

    boiler = "subscribe to our newsletter for the latest updates and offers"
    docs = [
        (1, f"intro text {boiler} outro one"),
        (2, f"{boiler} completely different tail here"),
        (3, f"other head words {boiler}"),
        (4, "echo echo echo echo echo echo echo echo"),  # within-doc
        (5, "too short"),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
        for r in suffix_span_removal(d, min_len=4).collect()
    }
    want = _brute_suffix_removal(docs, 4)
    assert got == want
    # the canonical (smallest doc_id) keeps the boilerplate verbatim
    assert boiler in got[1][2]
    assert boiler not in got[2][2] and boiler not in got[3][2]
    # the cut is the TRUE extent: docs 2/3 lose exactly the passage
    assert got[2][1] == len(boiler.split())
    assert got[3][1] == len(boiler.split())
    assert 5 not in got  # below min_len tokens


def test_suffix_incremental_equals_full_pass(spark):
    """Collision-closure theorem (round 12): the incremental suffix
    operators — probe the batch's min_len-windows against the stored
    id-carrying fixed-k index, exact pass on batch ∪ colliding corpus
    docs only — equal the FULL-corpus pass restricted to batch docs.
    Covers: cross-batch/corpus repeats (partner pulled via the index),
    batch-internal repeats (no corpus partner), an exact duplicate of
    a corpus doc (whole-doc run, canonical in the corpus), and a
    no-collision batch doc (comes back uncut)."""
    from dwh_with_dask_spark.operators.dedup import build_span_doc_index
    from dwh_with_dask_spark.operators.suffix import (
        suffix_removal_incremental,
        suffix_span_removal,
        suffix_spans_incremental,
        suffix_duplicate_spans,
    )

    boiler = "click here to accept all cookies and continue to the site"
    corpus_docs = [
        (0, f"corpus head {boiler} corpus tail words"),
        (2, "an entirely unrelated corpus document about gardening tips"),
        (4, " ".join(f"c{i}" for i in range(14))),
    ]
    batch_docs = [
        (1, f"batch intro {boiler} batch outro"),          # cross repeat
        (3, f"first half {boiler} and then {boiler} again"),  # + internal
        (5, " ".join(f"c{i}" for i in range(14))),         # exact dup of 4
        (7, "totally fresh text sharing nothing with anyone at all ok"),
    ]
    corpus = spark.createDataFrame(corpus_docs, "doc_id long, text string")
    batch = spark.createDataFrame(batch_docs, "doc_id long, text string")
    full = spark.createDataFrame(
        corpus_docs + batch_docs, "doc_id long, text string"
    )
    index = build_span_doc_index(corpus, k=8).cache()
    index.count()
    batch_ids = {i for i, _ in batch_docs}

    inc_rm = {
        r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
        for r in suffix_removal_incremental(
            batch, corpus, index, min_len=8
        ).collect()
    }
    full_rm = {
        r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
        for r in suffix_span_removal(full, min_len=8).collect()
        if r.doc_id in batch_ids
    }
    assert inc_rm == full_rm
    assert inc_rm[5] == (14, 14, "")  # exact dup: canonical is corpus 4
    assert inc_rm[7][1] == 0  # no collisions: uncut

    inc_sp = {
        tuple(r)
        for r in suffix_spans_incremental(
            batch, corpus, index, min_len=8
        ).collect()
    }
    full_sp = {
        tuple(r)
        for r in suffix_duplicate_spans(full, min_len=8).collect()
        if r.doc_id in batch_ids
    }
    assert inc_sp == full_sp and inc_sp
    index.unpersist()


def test_suffix_removal_oracle_exact_dup_docs(spark, duck):
    """Round-12 regression for the DuckDB REMOVAL oracle itself:
    _suffix_lcp_sql relied on list_position(..., FALSE) returning NULL
    when no mismatch exists, but DuckDB 1.0 returns 0 — so the
    no-mismatch class (equal suffixes of EQUAL length, i.e. exact
    duplicate documents at the same position; NULL-padding inserts a
    FALSE whenever lengths differ) computed e = pos - 1 and the oracle
    silently removed NOTHING from exact-dup members. The sf corpora
    have no exact-dup docs, so only the long-doc stress leg caught it.
    Pin spark == brute force == oracle on a corpus WITH exact dups."""
    from dwh_with_dask_spark.operators.suffix import suffix_span_removal
    from dwh_with_dask_spark.plans.llm import _SUFFIX_REMOVAL_CTES

    boiler = "this exact passage repeats across documents verbatim today"
    docs = [
        (1, " ".join(f"a{i}" for i in range(12))),
        (2, " ".join(f"a{i}" for i in range(12))),  # exact dup of 1
        (3, f"head words {boiler} tail"),
        (4, f"{boiler} other ending"),
        (5, "nothing shared in this one at all whatsoever really"),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
        for r in suffix_span_removal(d, min_len=8).collect()
    }
    assert got == _brute_suffix_removal(docs, 8)
    # the canonical copy survives intact, the dup is fully cut
    assert got[1][1] == 0 and got[2] == (12, 12, "")

    con = duck.cursor()
    con.execute(
        "CREATE OR REPLACE TEMP TABLE documents(doc_id BIGINT, text VARCHAR)"
    )
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            f"WITH {_SUFFIX_REMOVAL_CTES} "
            "SELECT doc_id, n_tokens, n_removed, clean_text FROM clean"
        ).fetchall()
    }
    assert got == want
    con.execute("DROP TABLE documents")


def test_suffix_identical_docs_full_length_repeats(spark):
    """ADVICE r10 (high) regression: EXACT duplicate documents must
    report full-length repeats. Two confirmed triggers of the old
    undercount: (1) distinct-token duplicate docs stabilize the rank
    partition early (fixpoint break), so the descending walk could
    accumulate at most 2^(J+1)-1 — two identical 10-token docs yielded
    rep=7 and suffix_duplicate_spans(min_len=8) MISSED them entirely;
    (2) with max_dl exactly a power of two the old 'redundant top
    level' skip dropped the only level that could certify a full-length
    match (identical 8-token docs -> rep=7). Equal-final-rank pairs are
    equal complete suffixes by construction and short-circuit to the
    full remaining length."""
    from dwh_with_dask_spark.operators.suffix import (
        longest_repeats,
        suffix_duplicate_spans,
    )

    # trigger 1: identical 10-token docs, all tokens distinct
    doc = " ".join(f"t{i}" for i in range(10))
    d = spark.createDataFrame([(1, doc), (2, doc)], "doc_id long, text string")
    rep = {(r.id, r.pos): r.rep for r in longest_repeats(d).collect()}
    assert all(rep[(i, p)] == 10 - p for i in (1, 2) for p in range(10))
    got = sorted(
        map(tuple, suffix_duplicate_spans(d, min_len=8).collect())
    )
    want = sorted(map(tuple, D.duplicate_spans(d, k=8).collect()))
    assert got == want and got  # non-empty: the dup IS found

    # trigger 2: identical docs at a power-of-two length
    doc8 = " ".join(f"t{i}" for i in range(8))
    d8 = spark.createDataFrame(
        [(1, doc8), (2, doc8)], "doc_id long, text string"
    )
    rep8 = {(r.id, r.pos): r.rep for r in longest_repeats(d8).collect()}
    assert all(rep8[(i, p)] == 8 - p for i in (1, 2) for p in range(8))


def test_suffix_doubling_tail_and_probe_fallback(spark, monkeypatch):
    """The block-rank TAIL (documents longer than the packed prefix
    base = R0·L) and the walk's shuffle-join fallback are exercised
    against the quadratic reference by forcing _XS_CAP=1 (base = R0 —
    every doc longer than one packed long takes the tail),
    _BLK_CAP=2 (multi-SCALE recursion: intermediate block arrays +
    the descent fetches, which a 32-wide top array would never need
    on small docs) and _PROBE_BROADCAST_MAX=0 (every cursor lookup
    takes the expression-keyed shuffle join). Includes an exact
    duplicate doc (equal complete suffixes through tier-1) and the
    removal operator end-to-end."""
    import random

    from dwh_with_dask_spark.operators import suffix

    rng = random.Random(20260815)
    docs = [
        (
            i,
            " ".join(
                f"w{rng.randrange(3)}" for _ in range(rng.randrange(1, 60))
            ),
        )
        for i in range(12)
    ]
    docs.append((100, max(docs, key=lambda t: len(t[1]))[1]))  # exact dup
    d = spark.createDataFrame(docs, "doc_id long, text string")
    want = _brute_longest_repeats(docs)

    monkeypatch.setattr(suffix, "_XS_CAP", 1)
    monkeypatch.setattr(suffix, "_BLK_CAP", 2)
    got = {
        (r.id, r.pos): r.rep for r in suffix.longest_repeats(d).collect()
    }
    assert got == want

    monkeypatch.setattr(suffix, "_PROBE_BROADCAST_MAX", 0)
    got2 = {
        (r.id, r.pos): r.rep for r in suffix.longest_repeats(d).collect()
    }
    assert got2 == want
    # R0 = 1 (the huge-vocabulary degenerate: xs = raw single ranks,
    # digit run trivially empty) through the same uniform path
    monkeypatch.setattr(suffix, "_R0_CAP", 1)
    got_r1 = {
        (r.id, r.pos): r.rep for r in suffix.longest_repeats(d).collect()
    }
    assert got_r1 == want
    monkeypatch.setattr(suffix, "_R0_CAP", 16)
    # removal through the tail path matches its quadratic reference
    got_rm = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in suffix.suffix_span_removal(d, min_len=4).collect()
    }
    assert got_rm == _brute_suffix_removal(docs, 4)


def test_suffix_one_position_corpus_honors_min_rep(spark):
    """Regression (ADVICE r13 suffix.py:489): the one-position-corpus
    branch substitutes a rep=0 row for the pairless frame; with
    ``min_rep`` set, that row must still honor the documented
    omitted-below-threshold contract (the min_rep filter applies AFTER
    the override)."""
    from dwh_with_dask_spark.operators.suffix import longest_repeats

    one = spark.createDataFrame([(7, "solo")], "doc_id long, text string")
    # without min_rep: the single position reports rep=0
    got = [(r.id, r.pos, r.rep) for r in longest_repeats(one).collect()]
    assert got == [(7, 0, 0)]
    # with min_rep: rep=0 < 1 must be OMITTED, not reported
    assert longest_repeats(one, min_rep=1).collect() == []


def test_cursor_lookup_both_guard_halves_at_union_size(spark, monkeypatch):
    """Regression (ADVICE r13 suffix.py:657): _cursor_lookup_both
    unions BOTH sides' probes (2 rows per pair), so its broadcast
    guard must trip at 2*n_act > _PROBE_BROADCAST_MAX — and the
    fallback (two expression-keyed shuffle joins) must return the
    identical frame the broadcast path does."""
    from dwh_with_dask_spark.operators import suffix

    # act: 3 walk pairs with cursors into tbl; one cursor (pair 3, side
    # b) runs past the doc end -> NULL
    act = spark.createDataFrame(
        [
            (1, 0, 2, 1, 1),
            (1, 1, 2, 2, 2),
            (2, 0, 3, 0, 3),
        ],
        "ida long, posa long, idb long, posb long, lcp long",
    )
    tbl = spark.createDataFrame(
        [(1, 1, 10), (1, 3, 11), (2, 2, 12), (2, 4, 13), (3, 3, 14)],
        "id long, pos long, v long",
    )

    def run():
        return sorted(
            (r["idb"], r["posb"], r["va"], r["vb"])
            for r in suffix._cursor_lookup_both(
                act, tbl, "v", "va", "vb", n_act=3
            ).collect()
        )

    monkeypatch.setattr(suffix, "_PROBE_BROADCAST_MAX", 6)  # 2*3 <= 6
    broadcast_path = run()
    monkeypatch.setattr(suffix, "_PROBE_BROADCAST_MAX", 5)  # 2*3 > 5
    fallback_path = run()
    assert broadcast_path == fallback_path
    # the values themselves: va from (ida, posa+lcp), vb from
    # (idb, posb+lcp); the (2,3) cursor has no rank row -> NULL
    assert broadcast_path == [
        (2, 1, 10, 12),
        (2, 2, 11, 13),
        (3, 0, None, 14),
    ]


def test_suffix_longest_repeats_randomized_property(spark):
    """Randomized (fixed-seed, deterministic) corpora vs the quadratic
    reference: small alphabets force heavy sharing, within-doc repeats,
    equal complete suffixes, and length-1 documents — the edge classes
    a single fixture can miss. Exact equality on every per-position
    longest-repeat length, for every corpus."""
    import random

    from dwh_with_dask_spark.operators.suffix import longest_repeats

    rng = random.Random(20260815)
    for trial, (alpha, ndocs, maxlen) in enumerate(
        [(2, 6, 9), (3, 5, 14), (5, 8, 6), (2, 4, 17)]
    ):
        docs = [
            (
                i,
                " ".join(
                    f"w{rng.randrange(alpha)}"
                    for _ in range(rng.randrange(1, maxlen + 1))
                ),
            )
            for i in range(ndocs)
        ]
        # every trial also carries an EXACT duplicate of its longest doc
        # (the equal-complete-suffix class the fixpoint break hits)
        docs.append((ndocs, max(docs, key=lambda t: len(t[1]))[1]))
        d = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            (r.id, r.pos): r.rep for r in longest_repeats(d).collect()
        }
        want = _brute_longest_repeats(docs)
        assert got == want, f"trial {trial} ({alpha},{ndocs},{maxlen})"


def test_containment_catches_subset_jaccard_misses(spark):
    """A short doc embedded verbatim in a much longer one: containment
    (A in B) = 1.0 while Jaccard ~ |A|/|B| falls below any dedup
    threshold — the case the asymmetric operator exists for."""
    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"word{i}" for i in range(60))
    long_doc = f"{filler} {short} " + " ".join(f"tail{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, short), (2, long_doc), (3, "totally unrelated text here now")],
        "doc_id long, text string",
    )
    rows = {
        (r.id_a, r.id_b): r.containment
        for r in D.shingle_pairs(
            df, "containment", "naive", n=3, threshold=0.8
        ).collect()
    }
    assert rows == {(1, 2): 1.0}  # contained direction only, exactly 1.0
    # symmetric Jaccard at the same threshold sees nothing
    assert D.shingle_pairs(df, "jaccard", "naive", n=3, threshold=0.8).count() == 0


def test_containment_matches_bruteforce_twin(spark):
    """Operator output equals an exact Python twin on a random-ish
    corpus (deterministic seed), including both-direction rows for
    near-identical docs."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(24):
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 40)))))
    # one exact duplicate pair -> containment 1.0 both ways
    docs.append((100, docs[0][1]))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def shingles(text, n=3):
        toks = text.split()
        if len(toks) < n:
            return {" ".join(toks)} if toks else set()
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sh = {i: shingles(t) for i, t in docs}
    want = {}
    ids = sorted(sh)
    for a in ids:
        for b in ids:
            if a == b or not sh[a]:
                continue
            c = len(sh[a] & sh[b]) / len(sh[a])
            if c >= 0.5:
                want[(a, b)] = (len(sh[a] & sh[b]), len(sh[a]), len(sh[b]), c)
    got = {
        (r.id_a, r.id_b): (r.n_common, r.n_a, r.n_b, r.containment)
        for r in D.shingle_pairs(
            df, "containment", "naive", n=3, threshold=0.5
        ).collect()
    }
    assert got == want
    assert (100, 0) in got and (0, 100) in got  # exact dup passes both ways


def test_kcenter_coreset_matches_numpy_twin_and_covers(spark):
    """kcenter_coreset: the selection SEQUENCE equals a numpy twin that
    replicates the exact arithmetic (float32 elementwise (x-y)^2,
    sequential float64 fold, min-id seed, min-id argmax tie-break), and
    the greedy set satisfies the 2-approximation cover property: the
    max point-to-nearest-center distance never exceeds the last
    selection distance."""
    import numpy as np

    from dwh_with_dask_spark.catalog import load_table
    from dwh_with_dask_spark.operators.similarity import kcenter_coreset
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    k = 8
    got = [
        (r.rank, r.id, r.dist2)
        for r in kcenter_coreset(
            emb, id_col="vec_id", vec_col="embedding", k=k
        ).orderBy("rank").collect()
    ]

    rows = emb.select("vec_id", "embedding").collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float32) for r in rows}

    def d2(a, b):
        diff2 = (a - b) * (a - b)  # float32, elementwise
        acc = 0.0
        for v in diff2:
            acc += float(v)  # sequential float64 fold
        return acc

    ids = sorted(vecs)
    seed = ids[0]
    centers = [seed]
    mind = {i: d2(vecs[i], vecs[seed]) for i in ids}
    want = [(0, seed, None)]
    for rank in range(1, k):
        nxt = max(ids, key=lambda i: (mind[i], -i))
        want.append((rank, nxt, mind[nxt]))
        for i in ids:
            mind[i] = min(mind[i], d2(vecs[i], vecs[nxt]))
    assert got == want

    # cover property: after selecting k centers, every point's distance
    # to its nearest center is <= the k-th selection distance
    assert max(mind.values()) <= want[-1][2]


def test_containment_superset_of_jaccard_property(spark):
    """Mathematical invariant linking the two operators (hypothesis-
    style random corpora, fixed seeds): C(A→B) = c/|A| >= c/(|A|+|B|-c)
    = J always, so every unordered pair Jaccard reports at threshold t
    must appear (in at least one direction) in containment's output at
    the same t — on any corpus."""
    import random

    for seed in (3, 41, 99):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(rng.randint(8, 40))]
        docs = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 35))))
            for i in range(rng.randint(10, 25))
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        t = rng.choice([0.2, 0.4, 0.6])
        jac = {
            frozenset((r.id_a, r.id_b))
            for r in D.shingle_pairs(df, "jaccard", "naive", n=3, threshold=t).collect()
        }
        con = {
            frozenset((r.id_a, r.id_b))
            for r in D.shingle_pairs(
                df, "containment", "naive", n=3, threshold=t
            ).collect()
        }
        assert jac <= con, (
            f"seed {seed}, t={t}: jaccard pairs missing from containment: "
            f"{jac - con}"
        )


def _prefix_jaccard_corpus(spark):
    """Deterministic varied corpus: overlapping word windows + planted
    dups across a range of doc lengths."""
    words = [f"w{i}" for i in range(60)]
    rows = []
    for d in range(30):
        start, length = (d * 7) % 40, 8 + (d % 13)
        toks = [words[(start + k) % 60] for k in range(length)]
        rows.append((d, " ".join(toks)))
    rows += [(100, rows[3][1]), (101, rows[3][1] + " extra tail words here")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _prefix_containment_corpus(spark):
    """Random-ish corpus with a planted exact dup and a planted subset."""
    import random

    rng = random.Random(17)
    vocab = [f"w{i}" for i in range(25)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(4, 30))))
        for i in range(20)
    ]
    docs.append((50, docs[0][1]))  # exact dup
    toks = docs[1][1].split()
    docs.append((51, " ".join(toks[: max(4, len(toks) // 2)])))  # subset-ish
    return spark.createDataFrame(docs, "doc_id long, text string")


def _pair_rows(df, kind, strategy, threshold, **kw):
    return {
        (r.id_a, r.id_b): (r.n_common, r.n_a, r.n_b, r[kind])
        for r in D.shingle_pairs(
            df, kind, strategy, threshold=threshold, **kw
        ).collect()
    }


@pytest.mark.parametrize(
    "kind, corpus, thresholds",
    [
        ("jaccard", _prefix_jaccard_corpus, (0.1, 0.3, 0.5, 0.8)),
        ("containment", _prefix_containment_corpus, (0.5, 0.8)),
    ],
    ids=["jaccard", "containment"],
)
def test_prefix_equals_naive_across_thresholds(spark, kind, corpus, thresholds):
    """Prefix filtering is pruning, not approximation: at every
    threshold the candidate-verify pipeline returns exactly the naive
    plan's rows (ids, counts, and the score itself). The planted exact
    dup scores 1.0, so even the highest threshold is non-vacuous."""
    df = corpus(spark)
    for t in thresholds:
        naive = _pair_rows(df, kind, "naive", t)
        assert _pair_rows(df, kind, "prefix", t) == naive, f"t={t}"
        assert naive, f"t={t}: fixture produced no pairs"


def _degenerate_inputs(spark):
    same = "the same four words repeated here"
    schema = "doc_id long, text string"
    return {
        "empty": spark.createDataFrame([], schema),
        "single": spark.createDataFrame([(1, "one lonely document here")], schema),
        "shorter_than_n": spark.createDataFrame(
            [(1, "two words"), (2, "two words"), (3, "one")], schema
        ),
        "null_and_blank": spark.createDataFrame(
            [(1, None), (2, ""), (3, "   "), (4, "a b c d"), (5, "a b c d")],
            schema,
        ),
        "identical": spark.createDataFrame(
            [(i, same) for i in range(4)], schema
        ),
        "negative_ids": spark.createDataFrame(
            [(-3, "x y z w"), (-1, "x y z w v"), (2, "p q r s")], schema
        ),
    }


@pytest.mark.parametrize("kind", ["jaccard", "containment"])
@pytest.mark.parametrize(
    "strategy, kw",
    [
        ("naive", {}),
        ("prefix", {}),
        ("auto", {}),
        ("naive", {"max_shingle_freq": 2}),
    ],
    ids=["naive", "prefix", "auto", "capped"],
)
def test_shingle_pairs_degenerate_inputs(spark, kind, strategy, kw):
    """Empty frames, a single doc, docs shorter than n, null and blank
    text, all-identical docs and negative ids: no strategy crashes, and
    every exact strategy returns the naive plan's rows. The cap of 2
    binds only on the four identical docs, whose every shingle is then
    hot — so the capped plan finds no pair there."""
    for name, df in _degenerate_inputs(spark).items():
        want = _pair_rows(df, kind, "naive", 0.5)
        got = _pair_rows(df, kind, strategy, 0.5, **kw)
        if kw and name == "identical":
            assert got == {}, name
        else:
            assert got == want, f"{name}: {strategy} {kw} != naive"
        if name in ("empty", "single", "shorter_than_n"):
            assert want == {}, name
        if name == "null_and_blank":
            assert set(want) == ({(4, 5)} if kind == "jaccard" else {(4, 5), (5, 4)})
        if name == "identical":
            # C(4,2) unordered pairs; containment emits both directions
            assert len(want) == (6 if kind == "jaccard" else 12)
            assert all(v[3] == 1.0 for v in want.values())
        if name == "negative_ids":
            assert (-3, -1) in want


def test_shingle_pairs_rejects_bad_arguments(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="kind"):
        D.shingle_pairs(df, "cosine", "naive", threshold=0.5)
    with pytest.raises(ValueError, match="strategy"):
        D.shingle_pairs(df, "jaccard", "minhash", threshold=0.5)
    with pytest.raises(ValueError, match="max_shingle_freq"):
        D.shingle_pairs(
            df, "jaccard", "prefix", threshold=0.5, max_shingle_freq=10
        )


# ---------------------------------------------------------------------------
# Auto-strategy dispatch (round 15, VERDICT r14 ask #1)
# ---------------------------------------------------------------------------


def _natural_corpus(spark):
    """Distilled natural/heavy-tailed df shape (the skewnl regime):
    content shingles globally unique, a hot boilerplate header shared
    by half the docs — p50=p90=1, max_df in the hundreds. This is the
    measured 52x-prefix-wins regime (BENCH_SCALE round 14)."""
    header = " ".join(f"h{i}" for i in range(30))
    rows = []
    for d in range(300):
        content = " ".join(f"u{d}x{i}" for i in range(50))
        rows.append((d, (header + " " + content) if d % 2 == 0 else content))
    # planted containment: doc 9000 = doc 1's content inside extra text
    rows.append((9000, rows[1][1] + " " + " ".join(f"z{i}" for i in range(10))))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _uniform_corpus(spark):
    """Near-uniform df shape (the driver's iid-Zipf regime): tiny
    vocab, every shingle collides broadly — p90 well above the
    heavy-tail threshold. Measured naive-wins regime."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(18)]
    rows = [
        (d, " ".join(rng.choice(vocab) for _ in range(60)))
        for d in range(250)
    ]
    # planted: a contained prefix and a near-identical copy, so both
    # metrics have qualifying pairs at their test thresholds
    rows.append((8000, " ".join(rows[3][1].split()[:40])))
    rows.append((8001, rows[5][1] + " " + vocab[0]))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pair_auto_dispatch_picks_measured_winner(spark):
    """The probe classifies the two measured regimes correctly and the
    dispatched result is bit-identical to the exact naive plan."""
    nat, uni = _natural_corpus(spark), _uniform_corpus(spark)

    # regime sanity: the fixtures actually have the df shapes the
    # dispatch keys on (else this test would assert vacuously)
    s_nat = D.shingle_df_stats(nat)
    s_uni = D.shingle_df_stats(uni)
    assert s_nat["p90_df"] <= 2 and s_nat["max_df"] > 100
    assert s_uni["p90_df"] > 2

    for metric, t in [("containment", 0.8), ("jaccard", 0.3)]:
        dec = {}
        got = _pair_rows(nat, metric, "auto", t, decision_out=dec)
        assert dec["strategy"] == "prefix", (metric, dec["reason"])
        want = _pair_rows(nat, metric, "naive", t)
        assert got == want and want, metric
        if metric == "containment":
            assert any(a == 1 and b == 9000 for a, b, in got)  # planted

        dec = {}
        got = _pair_rows(uni, metric, "auto", t, decision_out=dec)
        assert dec["strategy"] == "naive", (metric, dec["reason"])
        want = _pair_rows(uni, metric, "naive", t)
        assert got == want and want, metric


def test_pair_auto_capped_fallback_past_budget(spark):
    """Near-uniform df past the collision budget dispatches to the
    frequency cap, choosing the largest candidate cap that fits."""
    uni = _uniform_corpus(spark)
    stats = D.shingle_df_stats(uni)
    dec = {}
    out = D.shingle_pairs(
        uni, "containment", "auto", threshold=0.8, naive_budget=1,
        decision_out=dec,
    )
    assert dec["strategy"] == "capped"
    assert dec["cap"] == 10  # floor: even the tightest cap exceeds budget 1
    out.collect()  # plan executes

    # unit-level: the largest fitting candidate is chosen when one fits
    budget = stats["capped_volume"][25] + 1
    choice = D.choose_pair_strategy(stats, naive_budget=budget)
    if stats["capped_volume"][50] > budget:
        assert choice == {
            "strategy": "capped",
            "cap": 25,
            "reason": choice["reason"],
        }

    # heavy-tail overrides budget entirely (prefix kills the df^2 head)
    nat_stats = D.shingle_df_stats(_natural_corpus(spark))
    assert (
        D.choose_pair_strategy(nat_stats, naive_budget=1)["strategy"]
        == "prefix"
    )


def test_ann_config_pins_measured_grid():
    """similarity.ann_config encodes ANN.md's measured recall grids;
    the dim-768 sweep's 'm >= 64 + exact rerank' recommendation is
    pinned to the published numbers (VERDICT r14 ask #7)."""
    from dwh_with_dask_spark.operators.similarity import ann_config

    # the dim-768 headline: recall 0.8 needs m=64 + rerank-100
    c = ann_config(768, recall_target=0.8)
    assert (c["m"], c["nprobe"], c["rerank"]) == (64, 2, 100)
    assert c["expected_recall"] == 0.8 and c["meets_target"]
    assert c["grid_dim"] == 768

    # best measured 768 point: 0.85 at nprobe=4
    c = ann_config(768, recall_target=0.85)
    assert (c["m"], c["nprobe"], c["rerank"]) == (64, 4, 100)
    assert c["expected_recall"] == 0.85

    # beyond the grid: flagged, best point returned (caller raises m)
    c = ann_config(768, recall_target=0.95)
    assert not c["meets_target"]
    assert (c["m"], c["nprobe"], c["rerank"]) == (64, 4, 100)

    # low-dim tier: m=16 + rerank reaches 0.915 (the driver queries'
    # sizing at the testdata dim)
    c = ann_config(64, recall_target=0.9)
    assert (c["m"], c["rerank"]) == (16, 100)
    assert c["expected_recall"] == 0.915 and c["grid_dim"] == 64

    # a target plain ADC meets at 768 returns rerank=0 (cheapest tier)
    c = ann_config(768, recall_target=0.43)
    assert c["rerank"] == 0 and c["m"] == 16


# ---------------------------------------------------------------------------
# TF-IDF cosine: blocked-GEMM path vs inverted index (round 15)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def tiny_vocab_docs(spark):
    """Corpus whose vocabulary (8 words) is far smaller than the doc
    count — every token's df is ~half the corpus, so the inverted
    index's collision volume sum(df²) exceeds the all-pairs count n²
    and the auto dispatch must pick the blocked-GEMM plan."""
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    rows = []
    for i in range(40):
        # deterministic mix: doc i repeats 4 words chosen by index math
        picks = [words[(i + j * j) % len(words)] for j in range(6)]
        rows.append((i, " ".join(picks + picks[:2])))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_tfidf_strategies_row_identical(spark, near_dup_docs, tiny_vocab_docs):
    """index / blocked / auto produce identical rows (same rounded
    cosine, same pair set) on both a natural-shaped corpus and the
    tiny-vocab corpus where the plans differ most."""
    for corpus in (near_dup_docs, tiny_vocab_docs):
        outs = {}
        for strat in ("index", "blocked", "auto"):
            df = D.tfidf_cosine_pairs(corpus, threshold=0.3, strategy=strat)
            outs[strat] = sorted(
                (r["id_a"], r["id_b"], r["cosine"]) for r in df.collect()
            )
            if hasattr(df, "cache_scope"):
                df.cache_scope.release()
        assert outs["index"] == outs["blocked"]
        assert outs["index"] == outs["auto"]
        assert outs["index"]  # non-empty: the test saw real pairs


def test_tfidf_auto_dispatch_boundary(spark, tiny_vocab_docs):
    """The dispatch rule (sum(df²) > n_eff² → blocked) picks blocked on
    the tiny-vocab corpus and index on a near-unique-vocabulary corpus
    (df ≈ 1, so collision volume ≈ vocab < n²), asserted by the physical
    plan: the blocked path contains a FlatMapGroupsInPandas node, the
    index path does not."""
    import io
    from contextlib import redirect_stdout

    def plan_of(df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    blocked = D.tfidf_cosine_pairs(tiny_vocab_docs, threshold=0.3)
    assert "FlatMapGroupsInPandas" in plan_of(blocked)
    if hasattr(blocked, "cache_scope"):
        blocked.cache_scope.release()

    # 40 docs of 6 tokens each, every token unique to its doc:
    # sum(df²) = 240 < n² = 1600 → the index premise holds.
    unique_rows = [
        (i, " ".join(f"w{i}_{j}" for j in range(6))) for i in range(40)
    ]
    unique_docs = spark.createDataFrame(
        unique_rows, "doc_id long, text string"
    )
    index = D.tfidf_cosine_pairs(unique_docs, threshold=0.3)
    assert "FlatMapGroupsInPandas" not in plan_of(index)
    if hasattr(index, "cache_scope"):
        index.cache_scope.release()


def test_tfidf_blocked_canonical_group_no_duplicates(spark, tiny_vocab_docs):
    """Every unordered pair is emitted from exactly one block-pair task
    (the canonical (min,max) block group) — no duplicate pair rows at
    any n_blocks, including n_blocks larger than the doc count."""
    for n_blocks in (2, 8, 64):
        df = D.tfidf_cosine_pairs(
            tiny_vocab_docs, threshold=0.3, strategy="blocked",
            n_blocks=n_blocks,
        )
        rows = [(r["id_a"], r["id_b"]) for r in df.collect()]
        assert len(rows) == len(set(rows)), f"dup pairs at n_blocks={n_blocks}"
        if hasattr(df, "cache_scope"):
            df.cache_scope.release()


def test_tfidf_blocked_negative_ids_not_dropped(spark, tiny_vocab_docs):
    """ADVICE r15 (medium): negative doc ids must not silently drop
    pairs on the blocked path — the block key is pmod(xxhash64(id)) and
    the kernel reads the CARRIED home block, never re-deriving it from
    the id. index and blocked must agree on an all-negative-id corpus."""
    neg = tiny_vocab_docs.select(
        (F.col("doc_id") - F.lit(1000)).alias("doc_id"), "text"
    )
    outs = {}
    for strat in ("index", "blocked"):
        df = D.tfidf_cosine_pairs(neg, threshold=0.3, strategy=strat)
        outs[strat] = sorted(
            (r["id_a"], r["id_b"], r["cosine"]) for r in df.collect()
        )
        if hasattr(df, "cache_scope"):
            df.cache_scope.release()
    assert outs["index"] == outs["blocked"]
    assert outs["index"]  # non-empty: the test saw real pairs


def test_tfidf_blocked_schema_strategy_independent(spark, tiny_vocab_docs):
    """ADVICE r15 (low): the output id type must not depend on the
    dispatched strategy — int ids stay int on both paths."""
    int_docs = tiny_vocab_docs.select(
        F.col("doc_id").cast("int").alias("doc_id"), "text"
    )
    types = {}
    for strat in ("index", "blocked"):
        df = D.tfidf_cosine_pairs(int_docs, threshold=0.3, strategy=strat)
        types[strat] = [df.schema[c].dataType.simpleString()
                        for c in ("id_a", "id_b")]
        if hasattr(df, "cache_scope"):
            df.cache_scope.release()
    assert types["index"] == types["blocked"] == ["int", "int"]


def test_tfidf_blocked_guards(spark, tiny_vocab_docs):
    """Round-16 dispatch guards: n_blocks < 1 raises; a non-integral id
    column raises on explicit strategy='blocked' and falls back to the
    index plan under auto (the kernel's long output schema cannot carry
    string ids)."""
    with pytest.raises(ValueError, match="n_blocks"):
        D.tfidf_cosine_pairs(tiny_vocab_docs, strategy="blocked", n_blocks=0)
    str_docs = tiny_vocab_docs.select(
        F.concat(F.lit("doc-"), F.col("doc_id")).alias("doc_id"), "text"
    )
    with pytest.raises(ValueError, match="integral id"):
        D.tfidf_cosine_pairs(str_docs, strategy="blocked")
    import io
    from contextlib import redirect_stdout

    auto = D.tfidf_cosine_pairs(str_docs, threshold=0.3, strategy="auto")
    buf = io.StringIO()
    with redirect_stdout(buf):
        auto.explain("formatted")
    assert "FlatMapGroupsInPandas" not in buf.getvalue()
    if hasattr(auto, "cache_scope"):
        auto.cache_scope.release()


def test_tfidf_auto_vocab_budget_guard(spark, monkeypatch):
    """VERDICT r15 ask #7: sum(df²) > n² does NOT imply a small
    vocabulary — a few hot tokens atop a huge unique tail satisfies the
    collision test but would densify a huge block matrix. With the
    budget shrunk to force the guard, that corpus shape must dispatch
    to index (no FlatMapGroupsInPandas)."""
    words = ["hot1", "hot2"]
    rows = []
    for i in range(30):
        # 2 hot tokens in every doc + 6 unique-tail tokens
        rows.append(
            (i, " ".join(words + [f"tail{i}_{j}" for j in range(6)]))
        )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # sum(df²) = 2*900 + 180 = 1980 > n² = 900 → collision test says
    # blocked; vocab = 182, so a 1-byte budget forces the guard
    monkeypatch.setattr(D, "_BLOCKED_GEMM_TASK_BUDGET", 1)
    import io
    from contextlib import redirect_stdout

    auto = D.tfidf_cosine_pairs(docs, threshold=0.3, strategy="auto")
    buf = io.StringIO()
    with redirect_stdout(buf):
        auto.explain("formatted")
    assert "FlatMapGroupsInPandas" not in buf.getvalue()
    if hasattr(auto, "cache_scope"):
        auto.cache_scope.release()
