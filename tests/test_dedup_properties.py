"""Dedup invariants on synthetic corpora (SURVEY.md §5d):
LSH recall on planted near-duplicates, signature determinism, and
hamming/jaccard sanity — hypothesis-driven where cheap.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from kinesis_to_firehose_spark.operators.dedup import minhash_lsh_pairs

WORDS = [f"w{i}" for i in range(200)]


def _mk_doc(rng: random.Random, n: int = 60) -> list[str]:
    return [rng.choice(WORDS) for _ in range(n)]


def _shingle_rows(docs: dict[int, list[str]]):
    rows = []
    for doc_id, toks in docs.items():
        seen = set()
        for a, b in zip(toks, toks[1:]):
            sh = f"{a} {b}"
            if sh not in seen:
                seen.add(sh)
                rows.append((doc_id, sh))
    return rows


@pytest.fixture(scope="module")
def planted(spark):
    """100 random docs + 10 planted near-dup pairs (95% overlap)."""
    rng = random.Random(42)
    docs: dict[int, list[str]] = {i: _mk_doc(rng) for i in range(100)}
    dup_pairs = []
    for k in range(10):
        src = 100 + 2 * k
        dst = src + 1
        base = _mk_doc(rng)
        mutated = list(base)
        mutated[rng.randrange(len(mutated))] = rng.choice(WORDS)  # 1 edit
        docs[src] = base
        docs[dst] = mutated
        dup_pairs.append((src, dst))
    df = spark.createDataFrame(_shingle_rows(docs), "doc_id long, shingle string")
    return df, dup_pairs


def test_minhash_lsh_recall_on_planted_dups(spark, planted):
    df, dup_pairs = planted
    got = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in minhash_lsh_pairs(df).collect()
    }
    found = sum(1 for p in dup_pairs if p in got)
    # 8 bands × 4 rows at j≈0.95 ⇒ P(miss) ≈ (1-0.95^4)^8 ≈ 1e-5
    assert found >= 9, f"LSH recall too low: {found}/10 planted pairs found"


@pytest.fixture(scope="module")
def mid_sim(spark):
    """40 planted pairs at ~0.55-0.65 Jaccard (the band-count-sensitive
    regime: P(candidate) = 1-(1-s^4)^b ≈ 0.43 / 0.67 / 0.89 at b=4/8/16)
    plus 60 unrelated docs."""
    rng = random.Random(7)
    docs: dict[int, list[str]] = {i: _mk_doc(rng) for i in range(60)}
    pairs = []
    for k in range(40):
        src, dst = 1000 + 2 * k, 1001 + 2 * k
        base = _mk_doc(rng, n=80)
        mutated = list(base)
        # each rewritten token kills its 2 adjacent bigram shingles:
        # 10 rewrites ⇒ ~20/79 shingles differ ⇒ Jaccard ≈ 0.6
        for _ in range(10):
            mutated[rng.randrange(len(mutated))] = rng.choice(WORDS)
        docs[src], docs[dst] = base, mutated
        pairs.append((src, dst))
    df = spark.createDataFrame(_shingle_rows(docs), "doc_id long, shingle string")
    return df.localCheckpoint(eager=True), pairs


def test_minhash_perm_count_recall_curve(spark, mid_sim):
    """Perm-count scaling study (SURVEY §6): at fixed rows-per-band=4,
    recall on mid-similarity pairs rises with band count — the knob a
    100 TB dedup run turns when the similarity threshold drops. Also
    pins the 32-perm op's recall floor in this regime."""
    df, pairs = mid_sim
    recall = {}
    for n_perms, n_bands in ((16, 4), (32, 8), (64, 16)):
        got = {
            (r["doc_id_1"], r["doc_id_2"])
            for r in minhash_lsh_pairs(df, n_perms, n_bands).collect()
        }
        recall[n_perms] = sum(1 for p in pairs if p in got) / len(pairs)
    assert recall[64] >= recall[32] >= recall[16]
    assert recall[64] > recall[16]  # band count must actually matter here
    assert recall[32] >= 0.5  # the registered op's floor at s≈0.6


def test_minhash_identical_docs_full_signature_match(spark):
    rows = [(1, s) for s in ("a b", "b c", "c d")] + [
        (2, s) for s in ("a b", "b c", "c d")
    ]
    df = spark.createDataFrame(rows, "doc_id long, shingle string")
    out = minhash_lsh_pairs(df).collect()
    assert len(out) == 1
    assert out[0]["est_jaccard"] == 1.0


def test_minhash_est_monotone_in_overlap(spark):
    """More shared shingles ⇒ (weakly) higher estimated jaccard."""
    common = [f"c{i} c{i+1}" for i in range(40)]
    rows = []
    rows += [(1, s) for s in common + ["x0 x1", "x1 x2"]]
    rows += [(2, s) for s in common + ["y0 y1", "y1 y2"]]      # high overlap w/ 1
    rows += [(3, s) for s in common[:10] + [f"z{i} z{i+1}" for i in range(30)]]
    df = spark.createDataFrame(rows, "doc_id long, shingle string")
    got = {
        (r["doc_id_1"], r["doc_id_2"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(df).collect()
    }
    assert (1, 2) in got
    if (1, 3) in got:
        assert got[(1, 2)] >= got[(1, 3)]


def test_exact_dedup_collapses_planted_duplicates(spark):
    from kinesis_to_firehose_spark.operators import dedup as D

    docs = [(1, "the same text"), (2, "the  SAME   text"), (3, "different")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    hashed = df.select(
        "doc_id", F.md5(F.expr(D.NORM_EXPR)).alias("h")
    )
    n_groups = hashed.select("h").distinct().count()
    assert n_groups == 2  # normalization folds case+whitespace


def test_lsh_bucket_search_recall(spark):
    """Same-bucket top-1 must agree with brute force when the true
    nearest neighbor lands in the query's bucket; overall the bucketed
    search returns a subset of brute-force candidates with correct
    local ordering."""
    from kinesis_to_firehose_spark.operators.similarity import (
        ann_bruteforce_topk,
        lsh_topk,
    )

    sf = "/root/testdata/sf0.01"
    brute = {
        (r["query_id"], r["candidate_id"]): r["rk"]
        for r in ann_bruteforce_topk(spark, sf).collect()
    }
    bucketed = lsh_topk(spark, sf).collect()
    assert bucketed, "bucketed search returned nothing"
    # every bucketed hit's cosine ordering must be consistent with brute
    by_q: dict = {}
    for r in bucketed:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        cosines = [r["cosine"] for r in sorted(rows, key=lambda r: r["rk"])]
        assert cosines == sorted(cosines, reverse=True)


# ---- round-2 additions: distributed embedding dedup + DF cap ----------


def test_dedup_embedding_has_no_driver_collect():
    """The block sweep must never pull vectors to the driver: no
    collect, no sparkContext.broadcast of table data (VERDICT r1 #1)."""
    import inspect

    from kinesis_to_firehose_spark.operators import dedup as D

    src = inspect.getsource(D.dedup_embedding)
    assert ".collect()" not in src
    assert ".broadcast(" not in src


def test_dedup_embedding_scale_cap(spark, tmp_path):
    """The exact all-pairs baseline REFUSES corpora above its registry
    max_rows bound (round-6 verdict task 3): over-cap input raises
    ScaleCapExceeded (pointing at the LSH variant), over_cap() flags it
    for bench/sweep skip-and-log, and an at-cap corpus still runs."""
    import pytest

    from kinesis_to_firehose_spark.operators.dedup import (
        EXACT_EMB_MAX_ROWS,
        dedup_embedding,
    )
    from kinesis_to_firehose_spark.registry import (
        ScaleCapExceeded,
        all_ops,
        over_cap,
    )

    op = all_ops()["dedup_embedding"]
    assert op.max_rows == ("embeddings", EXACT_EMB_MAX_ROWS)
    assert over_cap(op, "/root/testdata/sf0.1") is None  # 2000 rows: runs

    big = tmp_path / "big"
    big.mkdir()
    n = EXACT_EMB_MAX_ROWS + 1
    spark.range(n).selectExpr(
        "id AS vec_id", "array(CAST(id AS DOUBLE)) AS embedding"
    ).coalesce(1).write.parquet(str(big / "embeddings.parquet"))
    assert over_cap(op, str(big)) == n
    with pytest.raises(ScaleCapExceeded, match="dedup_embedding_lsh"):
        dedup_embedding(spark, str(big)).count()


def test_dedup_embedding_block_sweep_matches_local_reference(spark):
    """Distributed block-matrix sweep == local numpy all-pairs."""
    import numpy as np

    from kinesis_to_firehose_spark.operators.dedup import (
        COSINE_TAU,
        dedup_embedding,
    )

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").collect()
    ids = np.array([r["vec_id"] for r in emb])
    mat = np.array([r["embedding"] for r in emb], dtype=np.float64)
    nrm = np.sqrt((mat * mat).sum(axis=1))
    cos = (mat @ mat.T) / np.outer(nrm, nrm)
    expect = set()
    for i in range(len(ids)):
        for j in range(len(ids)):
            if ids[i] < ids[j] and cos[i, j] >= COSINE_TAU:
                expect.add((int(ids[i]), int(ids[j])))
    got = {
        (r["vec_id_1"], r["vec_id_2"])
        for r in dedup_embedding(spark, sf).collect()
    }
    assert got == expect


def test_dedup_embedding_lsh_subset_with_exact_scores(spark):
    """The banded-LSH variant returns a subset of the exact op's pairs
    (candidate filtering loses pairs, never invents them) with
    identical cosine values, at usable recall."""
    from kinesis_to_firehose_spark.operators.dedup import (
        dedup_embedding,
        dedup_embedding_lsh,
    )

    sf = "/root/testdata/sf0.001"
    exact = {
        (r["vec_id_1"], r["vec_id_2"]): r["cosine"]
        for r in dedup_embedding(spark, sf).collect()
    }
    lsh = {
        (r["vec_id_1"], r["vec_id_2"]): r["cosine"]
        for r in dedup_embedding_lsh(spark, sf).collect()
    }
    assert set(lsh) <= set(exact)
    for pair, c in lsh.items():
        assert c == exact[pair]
    assert len(lsh) >= len(exact) // 2, f"recall {len(lsh)}/{len(exact)}"


def _write_documents(spark, path, docs):
    rows = [
        (i, text, "en", "synthetic", len(text)) for i, text in enumerate(docs)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def test_ngram_jaccard_df_cap_bounds_hot_shingles(spark, tmp_path):
    """Adversarial corpus: every doc shares every shingle. Above the DF
    cap the hot shingles are dropped BEFORE the self-join, so the join
    emits zero rows instead of n² (VERDICT r1 #5); below the cap the
    same corpus yields all C(n,2) exact-dup pairs."""
    from kinesis_to_firehose_spark.operators.dedup import (
        MAX_SHINGLE_DF,
        dedup_ngram_jaccard,
    )

    text = "the quick brown fox jumps over the lazy dog again and again"
    hot_n = MAX_SHINGLE_DF + 20
    _write_documents(spark, str(tmp_path / "hot"), [text] * hot_n)
    out_hot = dedup_ngram_jaccard(spark, str(tmp_path / "hot"))
    assert out_hot.count() == 0

    cool_n = 40
    _write_documents(spark, str(tmp_path / "cool"), [text] * cool_n)
    out_cool = dedup_ngram_jaccard(spark, str(tmp_path / "cool")).collect()
    assert len(out_cool) == cool_n * (cool_n - 1) // 2
    assert all(r["jaccard"] == 1.0 for r in out_cool)


def test_edit_distance_passjoin_matches_naive_blocked_join(spark, tmp_path):
    """PassJoin candidates must be a superset of true pairs: compare
    against the naive in-block all-pairs filter on a corpus with
    planted 1-3-edit prefix mutations (including indels, which shift
    every later segment)."""
    import random

    from kinesis_to_firehose_spark.operators.dedup import (
        EDIT_TAU,
        _PREFIX,
        NORM_EXPR,
        dedup_edit_distance,
    )

    rng = random.Random(7)
    alpha = "abcdefghij "
    base_docs = []
    for _ in range(30):
        s = "".join(rng.choice(alpha) for _ in range(80))
        base_docs.append(s)
        for _k in range(2):
            mut = list(s)
            for _e in range(rng.randint(1, EDIT_TAU)):
                kind = rng.choice(("sub", "ins", "del"))
                pos = rng.randrange(_PREFIX - 4)
                if kind == "sub":
                    mut[pos] = rng.choice(alpha)
                elif kind == "ins":
                    mut.insert(pos, rng.choice(alpha))
                else:
                    del mut[pos]
            base_docs.append("".join(mut))
    path = str(tmp_path / "ed")
    _write_documents(spark, path, base_docs)

    got = {
        (r["doc_id_1"], r["doc_id_2"], r["edit_dist"])
        for r in dedup_edit_distance(spark, path).collect()
    }

    from pyspark.sql import functions as F

    d = spark.read.parquet(f"{path}/documents.parquet")
    p = d.select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 64).cast("bigint").alias("len_bucket"),
        F.substring(F.expr(NORM_EXPR), 1, _PREFIX).alias("prefix"),
    )
    a, b = p.alias("a"), p.alias("b")
    naive = {
        (r["doc_id_1"], r["doc_id_2"], r["edit_dist"])
        for r in a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.len_bucket") == F.col("b.len_bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
            F.levenshtein(F.col("a.prefix"), F.col("b.prefix"))
            .cast("bigint")
            .alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= EDIT_TAU)
        .collect()
    }
    assert got == naive


def test_edit_distance_passjoin_short_and_varied_lengths(spark, tmp_path):
    """Round-9 truncated-piece emission: docs SHORTER than the 32-char
    prefix cap have a short final segment whose error-free image in a
    longer neighbour is not the neighbour's full 8-char substring.
    Plant mutations across lengths 8–40 (including pure end-insertions
    and end-deletions, the exact fork case) and require equality with
    the naive in-block all-pairs filter."""
    import random

    from pyspark.sql import functions as F

    from kinesis_to_firehose_spark.operators.dedup import (
        EDIT_TAU,
        _PREFIX,
        NORM_EXPR,
        dedup_edit_distance,
    )

    rng = random.Random(29)
    alpha = "abcdefghij "
    docs = []
    for n in (8, 12, 20, 26, 28, 29, 30, 31, 32, 36, 40):
        for _ in range(3):
            s = "".join(rng.choice(alpha) for _ in range(n))
            docs.append(s)
            # end-insertion twin: dist = #appended chars, image of the
            # short doc's last segment sits strictly inside the twin
            docs.append(s + "".join(rng.choice("xyz") for _ in range(rng.randint(1, EDIT_TAU))))
            # end-deletion twin
            if n > EDIT_TAU + 1:
                docs.append(s[: n - rng.randint(1, EDIT_TAU)])
            # interior mutation twin
            mut = list(s)
            for _e in range(rng.randint(1, EDIT_TAU)):
                kind = rng.choice(("sub", "ins", "del"))
                pos = rng.randrange(max(1, len(mut) - 1))
                if kind == "sub":
                    mut[pos] = rng.choice(alpha)
                elif kind == "ins":
                    mut.insert(pos, rng.choice(alpha))
                elif len(mut) > 1:
                    del mut[pos]
            docs.append("".join(mut))
    path = str(tmp_path / "edshort")
    _write_documents(spark, path, docs)

    got = {
        (r["doc_id_1"], r["doc_id_2"], r["edit_dist"])
        for r in dedup_edit_distance(spark, path).collect()
    }
    d = spark.read.parquet(f"{path}/documents.parquet")
    p = d.select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 64).cast("bigint").alias("len_bucket"),
        F.substring(F.expr(NORM_EXPR), 1, _PREFIX).alias("prefix"),
    )
    a, b = p.alias("a"), p.alias("b")
    naive = {
        (r["doc_id_1"], r["doc_id_2"], r["edit_dist"])
        for r in a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.len_bucket") == F.col("b.len_bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
            F.levenshtein(F.col("a.prefix"), F.col("b.prefix"))
            .cast("bigint")
            .alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= EDIT_TAU)
        .collect()
    }
    assert got == naive
    assert len(got) > 30  # the corpus actually planted matches


def test_ngram_jaccard_prefix_filter_matches_naive(spark, tmp_path):
    """Round-9 AllPairs prefix filter: candidates from rare-shingle
    prefixes + size-ratio must reproduce the full inverted-index
    result exactly on a corpus with varied doc lengths (the size
    filter and ceil(τ·n) prefix bound both depend on n)."""
    import random

    from pyspark.sql import functions as F
    from pyspark.sql import Window as W

    from kinesis_to_firehose_spark.operators.dedup import (
        JACCARD_TAU,
        MAX_SHINGLE_DF,
        dedup_ngram_jaccard,
        shingles_from_docs,
    )

    rng = random.Random(13)
    vocab = [f"t{i}" for i in range(120)]
    docs = []
    for n in (6, 10, 20, 40, 70):
        for _ in range(8):
            toks = [rng.choice(vocab) for _ in range(n)]
            docs.append(" ".join(toks))
            # near-dup twin: mutate ~20% of tokens
            mut = list(toks)
            for _e in range(max(1, n // 5)):
                mut[rng.randrange(n)] = rng.choice(vocab)
            docs.append(" ".join(mut))
            # subset twin: drop a tail chunk (length-skewed pair)
            docs.append(" ".join(toks[: max(3, n - n // 3)]))
    path = str(tmp_path / "njpf")
    _write_documents(spark, path, docs)

    got = {
        (r["doc_id_1"], r["doc_id_2"], r["jaccard"])
        for r in dedup_ngram_jaccard(spark, path).collect()
    }

    d = spark.read.parquet(f"{path}/documents.parquet")
    ex = shingles_from_docs(d)
    capped = ex.withColumn(
        "df_cnt",
        F.count("*").over(W.partitionBy("lang", "len_bucket", "shingle")),
    ).filter(F.col("df_cnt") <= MAX_SHINGLE_DF)
    full = capped.withColumn(
        "n_sh", F.count("*").over(W.partitionBy("doc_id"))
    )
    a, b = full.alias("a"), full.alias("b")
    jac = F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter"))
    naive = {
        (r["doc_id_1"], r["doc_id_2"], r["jaccard"])
        for r in a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.len_bucket") == F.col("b.len_bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
        )
        .agg(
            F.min("a.n_sh").alias("n1"),
            F.min("b.n_sh").alias("n2"),
            F.count("*").alias("inter"),
        )
        .filter(jac >= JACCARD_TAU)
        .select("doc_id_1", "doc_id_2", F.round(jac, 6).alias("jaccard"))
        .collect()
    }
    assert got == naive
    assert len(got) > 10  # planted twins actually matched


def _inplan_ivf(n, cents):
    """Multi-probe IVF top-k computed in-plan from `cents`: the query
    ranking, assignment and probe the persisted index composes."""
    from kinesis_to_firehose_spark.operators.similarity import (
        N_QUERIES,
        _assign_cells,
        _ivf_probe_topk,
        _ranked_cells,
    )

    queries = n.filter(F.col("vec_id") < N_QUERIES)
    return _ivf_probe_topk(
        n, _ranked_cells(queries, cents), _assign_cells(n, cents)
    )


def _seed_centroids(n):
    """The seed codebook: vectors vec_id < N_CENTROIDS as centroids."""
    from kinesis_to_firehose_spark.operators.similarity import N_CENTROIDS

    return n.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )


def test_ivf_training_beats_seed_on_clustered_data(spark, tmp_path):
    """Lloyd-trained centroids must rescue the degenerate-seed case:
    the first 8 vectors (= the seed centroids AND the queries) are all
    planted in one cluster, so seed-IVF splits that cluster across all
    cells and probes garbage; 3 Lloyd iterations migrate centroids to
    the 8 true clusters. Measured gap ~0.28 vs ~0.88 recall@5."""
    import numpy as np

    from kinesis_to_firehose_spark.operators.dedup import normed_embeddings
    from kinesis_to_firehose_spark.operators.similarity import (
        ann_bruteforce_topk,
        train_ivf_centroids,
    )

    rng = np.random.default_rng(0)
    centers = rng.normal(size=(8, 64)) * 5.0
    rows = []
    vid = 0
    for _ in range(8):  # queries + seed centroids: all cluster 0
        rows.append(
            (vid, (centers[0] + rng.normal(size=64) * 0.5).astype("float32").tolist(), "c0")
        )
        vid += 1
    for c in range(8):
        for _ in range(50):
            rows.append(
                (vid, (centers[c] + rng.normal(size=64) * 0.5).astype("float32").tolist(), f"c{c}")
            )
            vid += 1
    d = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    brute: dict = {}
    for r in ann_bruteforce_topk(spark, d).collect():
        if r["rk"] <= 5:
            brute.setdefault(r["query_id"], set()).add(r["candidate_id"])

    def recall(df):
        got: dict = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["candidate_id"])
        return sum(
            len(got.get(q, set()) & b) for q, b in brute.items()
        ) / sum(len(b) for b in brute.values())

    n = normed_embeddings(spark, d)
    seed_rec = recall(_inplan_ivf(n, _seed_centroids(n)))
    tr_rec = recall(_inplan_ivf(n, train_ivf_centroids(spark, d)))
    assert tr_rec > seed_rec + 0.2, f"trained {tr_rec} vs seed {seed_rec}"


def test_trained_centroid_store_matches_fresh_training(
    spark, tmp_path, monkeypatch
):
    """The persisted IVF codebook (sources/ann_index.py::
    trained_centroids) is bit-identical to a fresh Lloyd run, and a
    warm store serves reads WITHOUT retraining — the round-5 `weak`
    (k-means re-ran on every ann_ivf_trained_topk invocation)."""
    import kinesis_to_firehose_spark.operators.similarity as sim
    from kinesis_to_firehose_spark.sources.ann_index import (
        trained_centroids,
    )

    sf = "/root/testdata/sf0.001"
    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path / "cache"))
    fresh = {
        r["centroid_id"]: (tuple(r["c_emb"]), r["c_nrm"])
        for r in sim.train_ivf_centroids(spark, sf).collect()
    }
    stored = {
        r["centroid_id"]: (tuple(r["c_emb"]), r["c_nrm"])
        for r in trained_centroids(
            spark, sf, sim.N_CENTROIDS, sim.LLOYD_ITERS
        ).collect()
    }
    assert stored == fresh
    # warm path: any retraining attempt is a failure
    monkeypatch.setattr(
        sim,
        "train_ivf_centroids",
        lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("retrained on a warm codebook store")
        ),
    )
    warm = trained_centroids(spark, sf, sim.N_CENTROIDS, sim.LLOYD_ITERS)
    assert warm.count() == sim.N_CENTROIDS


def test_minhash_store_pairs_equal_inplan(spark, tmp_path, monkeypatch):
    """dedup_minhash_lsh served from the persisted signature store
    (corpus_minhash_store) emits exactly the in-plan pipeline's
    pairs — the store is an implementation detail results must not
    observe (round-5 `weak`: five ops re-signatured the corpus
    in-plan on every call)."""
    from kinesis_to_firehose_spark.operators.dedup import (
        dedup_minhash_lsh,
        exploded_shingles,
        minhash_lsh_pairs,
    )

    sf = "/root/testdata/sf0.001"
    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path / "cache"))
    inplan = [
        tuple(r)
        for r in minhash_lsh_pairs(
            exploded_shingles(spark, sf).select("doc_id", "shingle")
        ).collect()
    ]
    stored = [tuple(r) for r in dedup_minhash_lsh(spark, sf).collect()]
    assert stored == inplan


def test_connected_components_collapse_planted_chain(
    spark, tmp_path, monkeypatch
):
    """A near-dup CHAIN (A~B, B~C, A·C more distant) must land in ONE
    cluster labeled by the min doc id — transitivity that pairwise
    output alone can't express."""
    import random as _random

    from kinesis_to_firehose_spark.operators.dedup import dedup_cc_star

    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path / "cache"))

    rng = _random.Random(3)
    base = [rng.choice(WORDS) for _ in range(80)]
    b = list(base)
    b[5] = "zzz1"
    c = list(b)
    c[50] = "zzz2"
    docs = [(10, " ".join(base)), (11, " ".join(b)), (12, " ".join(c))]
    # unrelated docs so the corpus isn't only the chain
    docs += [(i, " ".join(rng.choice(WORDS) for _ in range(60))) for i in range(20, 30)]
    rows = [(i, t, "en", "synth", len(t)) for i, t in docs]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    out = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        for r in dedup_cc_star(spark, str(tmp_path)).collect()
    }
    assert out[10] == (10, 3)
    assert out[11] == (10, 3)
    assert out[12] == (10, 3)


def test_star_components_log_rounds_on_adversarial_path(spark):
    """large-star/small-star must label a 256-node PATH graph (the
    adversarial diameter case where min-label propagation needs ~n
    rounds) correctly in O(log² n) rounds — the property that makes it
    the 100 TB fallback for chain-shaped dup graphs."""
    from kinesis_to_firehose_spark.operators.dedup import star_components

    n = 256
    # path 0-1-2-...-255 plus a disjoint triangle {1000,1001,1002}
    edges = [(i, i + 1) for i in range(n - 1)]
    edges += [(1000, 1001), (1001, 1002), (1000, 1002)]
    e = spark.createDataFrame(edges, "src long, dst long")
    labels, rounds = star_components(e)
    got = {r["v"]: r["l"] for r in labels.collect()}
    assert all(got[i] == 0 for i in range(n))
    assert all(got[i] == 1000 for i in (1000, 1001, 1002))
    assert len(got) == n + 3
    # diameter 255, but star rounds stay logarithmic
    assert rounds <= 12, rounds


def test_star_components_fails_loudly_at_round_cap(spark, monkeypatch):
    """A graph still changing at _STAR_MAX_ROUNDS must raise, not
    return the partially collapsed labels (split clusters)."""
    import kinesis_to_firehose_spark.operators.dedup as dedup

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(255)], "src long, dst long"
    )
    monkeypatch.setattr(dedup, "_STAR_MAX_ROUNDS", 1)
    with pytest.raises(ValueError, match="did not converge in 1 rounds"):
        dedup.star_components(path)


def test_cc_star_collapses_long_chain(spark, monkeypatch):
    """A 40-edge chain of candidate pairs (doc_i ~ doc_{i+1} only, the
    templated-series shape whose diameter grows with its length) is one
    cluster of 41 labelled by its minimum doc id."""
    import kinesis_to_firehose_spark.operators.dedup as dedup

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "doc_id_1 long, doc_id_2 long"
    )
    monkeypatch.setattr(
        dedup, "lsh_store_pairs_tau", lambda spark, sf_dir, tau: chain
    )
    out = {tuple(r) for r in dedup.dedup_cc_star(spark, "unused").collect()}
    assert out == {(i, 0, 41) for i in range(41)}


def test_substring_dedup_flags_planted_boilerplate(spark, tmp_path):
    """Docs sharing an 8-word boilerplate span are flagged with
    dup_windows ≥ 1; a verbatim copy scores dup_frac = 1.0 and loses
    its keep bit; fully unique docs have zero duplicated windows.
    Repetition WITHIN one doc must not count as a duplicated span."""
    import random

    from kinesis_to_firehose_spark.operators.dedup import (
        SUBSTR_K,
        dedup_substring,
    )

    rng = random.Random(7)
    vocab = [f"u{i}{j}" for i in range(50) for j in ("a", "b")]
    rng.shuffle(vocab)
    boiler = " ".join(f"bp{i}" for i in range(SUBSTR_K))
    docs = []
    # 0-3: unique docs from disjoint vocab slices (no shared windows)
    for i in range(4):
        docs.append(" ".join(vocab[i * 25 : (i + 1) * 25]))
    # 4-5: distinct docs that embed the same boilerplate span
    docs.append(docs[0] + " " + boiler)
    docs.append(docs[1] + " " + boiler)
    # 6: verbatim copy of doc 2
    docs.append(docs[2])
    # 7: internal repetition only — same phrase twice, one doc
    rep = " ".join(f"rp{i}" for i in range(SUBSTR_K))
    docs.append(rep + " " + rep)

    _write_documents(spark, str(tmp_path), docs)
    out = {
        r["doc_id"]: r
        for r in dedup_substring(spark, str(tmp_path)).collect()
    }
    assert out[4]["dup_windows"] >= 1 and out[5]["dup_windows"] >= 1
    assert out[2]["dup_frac"] == 1.0 and out[6]["dup_frac"] == 1.0
    assert out[2]["keep"] == 0 and out[6]["keep"] == 0
    assert out[3]["dup_windows"] == 0 and out[3]["keep"] == 1
    assert out[7]["dup_windows"] == 0  # within-doc repetition ≠ dup span


def test_keep_best_exactly_one_representative_per_cluster(spark):
    """Every cluster keeps exactly one member — the max-score one —
    and the output covers every document exactly once."""
    from kinesis_to_firehose_spark.operators.dedup import dedup_keep_best

    sf = "/root/testdata/sf0.01"
    rows = dedup_keep_best(spark, sf).collect()
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert len(rows) == n_docs
    assert len({r["doc_id"] for r in rows}) == n_docs

    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    assert any(len(m) > 1 for m in by_cluster.values())  # real clusters
    for members in by_cluster.values():
        kept = [r for r in members if r["keep"] == 1]
        assert len(kept) == 1
        assert kept[0]["score"] == max(r["score"] for r in members)
        assert all(r["cluster_size"] == len(members) for r in members)


def test_decontaminate_embedding_drops_planted_eval_copy(spark, tmp_path):
    """A train vector identical to an eval vector must be dropped
    (cosine 1.0 ≥ τ); the keep bit is consistent with max_eval_cos
    everywhere; vectors with no candidates keep NULL max and keep=1."""
    import numpy as np

    from kinesis_to_firehose_spark.operators.curation import (
        EVAL_MOD,
        decontaminate_embedding,
    )
    from kinesis_to_firehose_spark.operators.dedup import COSINE_TAU, EMB_DIM

    rng = np.random.default_rng(11)
    rows = []
    eval_vec = rng.normal(size=EMB_DIM).astype("float32")
    rows.append((0, [float(x) for x in eval_vec], 0))  # 0 % EVAL_MOD == 0 → eval
    rows.append((1, [float(x) for x in eval_vec], 0))  # planted train copy
    for i in range(2, 40):
        v = rng.normal(size=EMB_DIM).astype("float32")
        rows.append((i, [float(x) for x in v], 0))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/embeddings.parquet"
    )

    out = {
        r["vec_id"]: r
        for r in decontaminate_embedding(spark, str(tmp_path)).collect()
    }
    assert 0 not in out  # eval vectors are not in the train output
    assert out[1]["keep"] == 0 and out[1]["max_eval_cos"] >= 0.999999
    for r in out.values():
        if r["n_eval_cands"] == 0:
            assert r["max_eval_cos"] is None and r["keep"] == 1
        else:
            assert r["keep"] == (0 if r["max_eval_cos"] >= COSINE_TAU else 1)
    assert len(out) == 40 - 1 - (40 - 1) // EVAL_MOD  # all train ids present


def test_containment_catches_excerpt_jaccard_misses(spark, tmp_path):
    """A short doc fully embedded in a long one: containment ≈ 1 while
    Jaccard is far below its τ — the pair must appear in
    dedup_containment and NOT in dedup_ngram_jaccard."""
    import random

    from kinesis_to_firehose_spark.operators.dedup import (
        dedup_containment,
        dedup_ngram_jaccard,
    )

    rng = random.Random(3)
    long_words = [f"x{i}" for i in range(400)]
    rng.shuffle(long_words)
    excerpt = " ".join(long_words[:40])          # doc 1 ⊂ doc 0
    long_doc = " ".join(long_words)
    filler = " ".join(f"y{i}" for i in range(60))
    _write_documents(spark, str(tmp_path), [long_doc, excerpt, filler])

    cont = dedup_containment(spark, str(tmp_path)).collect()
    pairs = {(r["doc_id_1"], r["doc_id_2"]): r for r in cont}
    assert (0, 1) in pairs
    assert pairs[(0, 1)]["containment"] == 1.0
    assert pairs[(0, 1)]["jaccard"] < 0.2

    jac = dedup_ngram_jaccard(spark, str(tmp_path)).collect()
    assert all((r["doc_id_1"], r["doc_id_2"]) != (0, 1) for r in jac)


# ---------------------------------------------------------------------------
# Gated hot-bucket minhash: an adversarial corpus with one corpus-scale
# band bucket must produce O(k) candidates (chain pairs), not O(k²),
# while keeping the hot cluster CONNECTED so CC recovers it whole.
# ---------------------------------------------------------------------------
def _explode_text(df):
    from pyspark.sql.window import Window as W
    from kinesis_to_firehose_spark.operators.dedup import TOK_EXPR

    toks = df.select(
        "doc_id", F.posexplode(F.expr(TOK_EXPR)).alias("pos", "tok")
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    return (
        toks.withColumn("nxt", F.lead("tok").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(
            "doc_id",
            F.concat(F.col("tok"), F.lit(" "), F.col("nxt")).alias("shingle"),
        )
        .distinct()
    )


def test_gated_minhash_bounds_hot_buckets(spark):
    from kinesis_to_firehose_spark.operators.dedup import (
        minhash_lsh_pairs_gated,
        star_components,
    )
    from kinesis_to_firehose_spark.sources.synth import skewed_corpus

    n_docs, hot = 200, 0.5
    n_hot = int(n_docs * hot)
    ex = _explode_text(skewed_corpus(spark, n_docs, hot)).localCheckpoint()

    gated = minhash_lsh_pairs_gated(ex, cap=8).collect()
    # hot docs contribute a chain (k-1 pairs), not k(k-1)/2 ≈ 4950
    assert len(gated) < 2 * n_docs, f"gated emitted {len(gated)} pairs"
    hot_pairs = [
        r for r in gated if r.doc_id_1 < n_hot and r.doc_id_2 < n_hot
    ]
    assert len(hot_pairs) == n_hot - 1  # exactly the doc_id chain
    # identical docs: chain pairs carry full signature agreement
    assert all(r.est_jaccard == 1.0 for r in hot_pairs)

    # connectivity: CC over gated pairs recovers ONE hot cluster
    edges = spark.createDataFrame(
        [(r.doc_id_1, r.doc_id_2) for r in gated], "src long, dst long"
    )
    labels, _ = star_components(edges)
    hot_labels = {r.l for r in labels.collect() if r.v < n_hot}
    assert len(hot_labels) == 1, f"hot cluster fragmented: {hot_labels}"


def test_gated_minhash_equals_plain_below_cap(spark, planted):
    """With every bucket under the cap, the gated op IS the plain op."""
    from kinesis_to_firehose_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_gated,
    )

    df, _ = planted
    plain = {tuple(r) for r in minhash_lsh_pairs(df).collect()}
    gated = {
        tuple(r) for r in minhash_lsh_pairs_gated(df, cap=10_000).collect()
    }
    assert plain == gated


def test_default_minhash_band_join_autogates(spark):
    """The DEFAULT op's band join (lsh_pairs_from_sigs_bands via
    minhash_lsh_pairs, cap = MINHASH_HOT_BUCKET_CAP) bounds an
    adversarial bucket: a planted block of identical docs LARGER than
    the cap emits O(k·lags) chain pairs, not k(k-1)/2, stays fully
    connected for downstream CC, and the sub-cap remainder of the
    corpus is bit-identical to the ungated join (round-6 verdict
    task 2)."""
    from kinesis_to_firehose_spark.operators.dedup import (
        MINHASH_HOT_BUCKET_CAP,
        MINHASH_HOT_CHAIN_LAGS,
        minhash_lsh_pairs,
        star_components,
    )
    from kinesis_to_firehose_spark.sources.synth import skewed_corpus

    n_hot = MINHASH_HOT_BUCKET_CAP + 44  # one bucket above the cap
    n_docs = n_hot * 2
    ex = _explode_text(skewed_corpus(spark, n_docs, 0.5)).localCheckpoint()

    pairs = minhash_lsh_pairs(ex).collect()
    hot_pairs = [
        r for r in pairs if r.doc_id_1 < n_hot and r.doc_id_2 < n_hot
    ]
    quad = n_hot * (n_hot - 1) // 2
    bound = n_hot * MINHASH_HOT_CHAIN_LAGS
    assert len(hot_pairs) <= bound, (
        f"hot bucket emitted {len(hot_pairs)} pairs "
        f"(chain bound {bound}, ungated {quad})"
    )
    # identical docs: chain pairs carry full signature agreement
    assert all(r.est_jaccard == 1.0 for r in hot_pairs)

    # connectivity: CC over the gated pairs keeps ONE hot cluster
    edges = spark.createDataFrame(
        [(r.doc_id_1, r.doc_id_2) for r in pairs], "src long, dst long"
    )
    labels, _ = star_components(edges)
    hot_labels = {r.l for r in labels.collect() if r.v < n_hot}
    assert len(hot_labels) == 1, f"hot cluster fragmented: {hot_labels}"

    # sub-cap pairs are untouched by the gate
    ungated = minhash_lsh_pairs(ex)  # rebuild, then recompare capless
    from kinesis_to_firehose_spark.operators.dedup import (
        lsh_pairs_from_sigs_bands,
    )

    cold = {
        tuple(r)
        for r in pairs
        if not (r.doc_id_1 < n_hot and r.doc_id_2 < n_hot)
    }
    del ungated
    plain = minhash_lsh_pairs_capless(ex)
    cold_plain = {
        tuple(r)
        for r in plain.collect()
        if not (r.doc_id_1 < n_hot and r.doc_id_2 < n_hot)
    }
    assert cold == cold_plain


def minhash_lsh_pairs_capless(ex):
    """minhash_lsh_pairs with the gate effectively disabled."""
    from pyspark.sql import functions as F

    from kinesis_to_firehose_spark.operators.dedup import (
        N_BANDS,
        N_PERMS,
        _band_keys_spark,
        _sig_agg_spark,
        _V_SPARK,
        lsh_pairs_from_sigs_bands,
    )

    hashed_v = ex.select("doc_id", F.expr(_V_SPARK).alias("v"))
    sigs = (
        hashed_v.groupBy("doc_id")
        .agg(*[F.expr(e) for e in _sig_agg_spark(N_PERMS)])
        .localCheckpoint(eager=True)
    )
    band_keys = _band_keys_spark(N_PERMS, N_BANDS)
    bands = sigs.select(
        "doc_id",
        F.posexplode(F.expr(f"array({band_keys})")).alias(
            "band_idx0", "band_key"
        ),
    ).withColumn("band_idx", F.col("band_idx0") + 1)
    return lsh_pairs_from_sigs_bands(sigs, bands, cap=1 << 30)


def test_pq_codes_bounded_and_adc_recall(spark):
    """PQ codes stay in [0, PQ_K); ADC top-10 recall vs exact-L2
    top-10 clears a floor (untrained seed centroids trade recall for
    a 32x memory cut; the floor pins the implementation, a trained
    codebook or ADC+rescore raises it)."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window as W

    from kinesis_to_firehose_spark.operators.similarity import (
        N_QUERIES,
        PQ_K,
        PQ_M,
        PQ_TOP_K,
        ann_pq_topk,
        l2sq_expr,
        pq_quantize,
    )
    from kinesis_to_firehose_spark.sources.tables import load

    sf = "/root/testdata/sf0.01"
    codes = pq_quantize(spark, sf).collect()
    for r in codes:
        assert len(r["codes"]) == PQ_M
        assert all(0 <= c < PQ_K for c in r["codes"])

    e = load(spark, "embeddings", sf).select("vec_id", "embedding")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = e.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("candidate_id"), F.col("embedding").alias("ce")
    )
    wk = W.partitionBy("query_id").orderBy("dist", "candidate_id")
    exact = (
        c.join(F.broadcast(q))
        .select(
            "query_id",
            "candidate_id",
            F.expr(l2sq_expr("qe", "ce", "spark")).alias("dist"),
        )
        .withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= PQ_TOP_K)
    )
    ex = {(r["query_id"], r["candidate_id"]) for r in exact.collect()}
    pq = {
        (r["query_id"], r["candidate_id"])
        for r in ann_pq_topk(spark, sf).collect()
    }
    assert len(ex & pq) / len(ex) >= 0.25


def test_ivfpq_cells_consistent_and_recall(spark):
    """IVFADC composition: every result row's cell is the candidate's
    coarse rank-1 assignment (candidates are only ever scored inside
    their own IVF cell), each query returns exactly PQ_TOP_K rows,
    and ADC-over-probed-cells top-10 recall vs exact-L2 top-10 clears
    a floor (2-probe IVF pruning + untrained residual codebook)."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window as W

    from kinesis_to_firehose_spark.operators.similarity import (
        N_CENTROIDS,
        N_QUERIES,
        PQ_TOP_K,
        _assign_cells,
        ann_ivfpq_topk,
        l2sq_expr,
        normed_embeddings,
    )
    from kinesis_to_firehose_spark.sources.tables import load

    sf = "/root/testdata/sf0.01"
    res = ann_ivfpq_topk(spark, sf).collect()
    per_query = {}
    for r in res:
        per_query.setdefault(r["query_id"], []).append(r)
    assert set(per_query) == set(range(N_QUERIES))
    assert all(len(v) == PQ_TOP_K for v in per_query.values())

    n = normed_embeddings(spark, sf)
    cents = n.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    cells = {
        r["vec_id"]: r["cell"] for r in _assign_cells(n, cents).collect()
    }
    assert all(r["cell"] == cells[r["candidate_id"]] for r in res)

    e = load(spark, "embeddings", sf).select("vec_id", "embedding")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = e.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("candidate_id"), F.col("embedding").alias("ce")
    )
    wk = W.partitionBy("query_id").orderBy("dist", "candidate_id")
    exact = (
        c.join(F.broadcast(q))
        .select(
            "query_id",
            "candidate_id",
            F.expr(l2sq_expr("qe", "ce", "spark")).alias("dist"),
        )
        .withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= PQ_TOP_K)
    )
    ex = {(r["query_id"], r["candidate_id"]) for r in exact.collect()}
    got = {(r["query_id"], r["candidate_id"]) for r in res}
    assert len(ex & got) / len(ex) >= 0.2


def test_int8_search_matches_exact_dot(spark):
    """Quantized serving path: int8-code ranking recovers ≥90% of the
    exact float-dot top-10 (1/127-per-axis quantization error is far
    smaller than typical score gaps)."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window as W

    from kinesis_to_firehose_spark.operators.dedup import dot_expr
    from kinesis_to_firehose_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
        ann_int8_topk,
    )
    from kinesis_to_firehose_spark.sources.tables import load

    sf = "/root/testdata/sf0.01"
    e = load(spark, "embeddings", sf).select("vec_id", "embedding")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = e.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("candidate_id"), F.col("embedding").alias("ce")
    )
    wk = W.partitionBy("query_id").orderBy(F.desc("dot"), "candidate_id")
    exact = (
        c.join(F.broadcast(q))
        .select(
            "query_id",
            "candidate_id",
            F.expr(dot_expr("qe", "ce", "spark")).alias("dot"),
        )
        .withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= TOP_K)
    )
    ex = {(r["query_id"], r["candidate_id"]) for r in exact.collect()}
    got = {
        (r["query_id"], r["candidate_id"])
        for r in ann_int8_topk(spark, sf).collect()
    }
    assert len(ex & got) / len(ex) >= 0.9


def test_provenance_chain_walks_planted_chain(spark):
    """Native-recursion provenance: a planted duplication chain
    1→2→3→4 (each doc's min partner is its predecessor) must resolve
    every doc to root 1 with depths 0..3 — proving the recursion
    actually walks multi-hop chains (the corpus pairs mostly resolve
    in one hop)."""
    from kinesis_to_firehose_spark.operators.dedup import _PROV_RECURSION

    spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)],
        "doc_id_1 long, doc_id_2 long",
    ).createOrReplaceTempView("prov_test_pairs")
    rows = {
        r["doc_id"]: (r["root_id"], r["depth"])
        for r in spark.sql(
            _PROV_RECURSION.format(pairs="prov_test_pairs")
        ).collect()
    }
    assert rows == {
        1: (1, 0),
        2: (1, 1),
        3: (1, 2),
        4: (1, 3),
        10: (10, 0),
        11: (10, 1),
    }


def test_ann_index_search_matches_inplan_ivf(spark, tmp_path):
    """The persisted ANN index serves exactly what the seed-centroid
    IVF computes in-plan, and the search plan reads the store (no
    corpus-side re-assignment)."""
    from pyspark.sql import functions as F

    from kinesis_to_firehose_spark.operators.dedup import (
        normed_embeddings,
    )
    from kinesis_to_firehose_spark.operators.similarity import N_QUERIES
    from kinesis_to_firehose_spark.plans.explain import physical_plan
    from kinesis_to_firehose_spark.sources.ann_index import (
        build_ann_index,
        search_ann_index,
    )

    sf = "/root/testdata/sf0.01"
    path = str(tmp_path / "ann_index")
    build_ann_index(spark, sf, path)
    n = normed_embeddings(spark, sf)
    queries = n.filter(F.col("vec_id") < N_QUERIES)
    got = search_ann_index(spark, queries, path)
    assert str(tmp_path) in physical_plan(got)
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in _inplan_ivf(n, _seed_centroids(n)).collect()
    ]


def test_emb_band_candidates_hot_bucket_gate(spark):
    """A planted hot bucket (identical vectors, one bucket per band)
    must produce O(n·lags) chained candidates, not O(n²): every
    consecutive pair survives (signature order), and the total stays
    at the chain bound. Small buckets keep full pairing."""
    from pyspark.sql import Row

    from kinesis_to_firehose_spark.operators.dedup import (
        EMB_HOT_BUCKET_CAP,
        EMB_HOT_CHAIN_LAGS,
        emb_band_candidates,
    )

    n = EMB_HOT_BUCKET_CAP + 44  # hot: 300 members in every band bucket
    base = [1.0] * 64
    e = spark.createDataFrame(
        [Row(vec_id=i, embedding=base) for i in range(n)]
    )
    cand = emb_band_candidates(e).collect()
    got = {(r["vec_id_1"], r["vec_id_2"]) for r in cand}
    # identical vectors → identical signatures → order by vec_id:
    # every lag-j pair (i, i+j) for j ≤ LAGS exists, nothing beyond
    want = {
        (i, i + j)
        for j in range(1, EMB_HOT_CHAIN_LAGS + 1)
        for i in range(n - j)
    }
    assert got == want  # chain pairs exactly; no quadratic arm
    assert len(got) < n * EMB_HOT_CHAIN_LAGS  # O(n·lags) bound

    # below the cap: full pairing (the ungated contract unchanged)
    m = 12
    e2 = spark.createDataFrame(
        [Row(vec_id=i, embedding=base) for i in range(m)]
    )
    got2 = {
        (r["vec_id_1"], r["vec_id_2"])
        for r in emb_band_candidates(e2).collect()
    }
    assert got2 == {(i, j) for i in range(m) for j in range(i + 1, m)}


def test_shingle_store_equals_inplan(spark, tmp_path, monkeypatch):
    """exploded_shingles served from the persisted corpus shingle
    store returns exactly the in-plan tokenize/lead/distinct rows, at
    every carry projection (carry columns are per-doc constants, so
    the superset-grain store preserves distinctness)."""
    from kinesis_to_firehose_spark.operators.dedup import (
        exploded_shingles,
        shingles_from_docs,
    )
    from kinesis_to_firehose_spark.sources.tables import load

    sf = "/root/testdata/sf0.001"
    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path / "cache"))
    d = load(spark, "documents", sf)
    for carry in (("lang", "len_bucket"), ("source",), ()):
        stored = sorted(
            tuple(r) for r in exploded_shingles(spark, sf, carry).collect()
        )
        inplan = sorted(
            tuple(r) for r in shingles_from_docs(d, carry).collect()
        )
        assert stored == inplan, carry


def test_gated_candidate_pairs_bounds_hot_bucket_exactly(spark):
    """The generic gate's candidate count on a planted hot bucket is
    EXACTLY the multi-lag chain (O(k·lags)), never O(k²) — round-7
    verdict task 1's done-condition. One bucket of k=600 ids above the
    cap plus one 3-id small bucket below it: hot contributes
    sum_{j=1..lags}(k-j) chain pairs, small contributes all 3."""
    from pyspark.sql import functions as F

    from kinesis_to_firehose_spark.operators.dedup import (
        MINHASH_HOT_CHAIN_LAGS,
        gated_candidate_pairs,
    )

    k, lags = 600, MINHASH_HOT_CHAIN_LAGS
    hot_rows = [(i, 1, 777) for i in range(k)]
    small_rows = [(10_000 + i, 1, 888) for i in range(3)]
    buckets = spark.createDataFrame(
        hot_rows + small_rows, "doc_id long, chunk_idx int, chunk long"
    )
    cand = gated_candidate_pairs(
        buckets, "doc_id", ("chunk_idx", "chunk"), cap=256
    )
    n_hot_expected = sum(k - j for j in range(1, lags + 1))
    got_hot = cand.filter(F.col("doc_id_1") < 10_000).count()
    got_small = cand.filter(F.col("doc_id_1") >= 10_000).count()
    assert got_hot == n_hot_expected, (got_hot, n_hot_expected)
    assert got_small == 3  # 3 ids below cap → all pairs
    # and the quadratic count never materializes
    assert got_hot < k * (k - 1) / 2 / 10


def test_simhash_gate_bounds_constant_prefix_corpus(spark, tmp_path, monkeypatch):
    """Adversarial near-constant corpus THROUGH the registered op: 300
    identical docs collapse onto one simhash, making all 4 pigeonhole
    chunk buckets hot (k=300 > cap=256). The ungated join would emit
    k(k-1)/2 = 44850 pairs; the gated op emits exactly the distinct
    8-lag chain, and every emitted pair still verifies at hamming 0."""
    from kinesis_to_firehose_spark.operators.dedup import (
        MINHASH_HOT_CHAIN_LAGS,
        dedup_simhash,
    )

    k = 300
    text = "alpha beta gamma delta epsilon zeta"
    rows = [(i, text, "en", "synth", len(text)) for i in range(k)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path / "cache"))

    out = dedup_simhash(spark, str(tmp_path)).collect()
    expected = sum(k - j for j in range(1, MINHASH_HOT_CHAIN_LAGS + 1))
    assert len(out) == expected, (len(out), expected)
    assert all(r.hamming == 0 for r in out)


def test_simhash_store_equals_inplan(spark, tmp_path, monkeypatch):
    """corpus_simhash_store serves bit-identical fingerprints to the
    in-plan computation (the store is an implementation detail results
    must not observe), and a warm store never recomputes."""
    import kinesis_to_firehose_spark.operators.dedup as dd
    from kinesis_to_firehose_spark.sources.dedup_index import (
        corpus_simhash_store,
    )

    sf = "/root/testdata/sf0.001"
    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path / "cache"))
    inplan = {r.doc_id: r.simhash for r in dd.simhash_table(spark, sf).collect()}
    stored = {
        r.doc_id: r.simhash for r in corpus_simhash_store(spark, sf).collect()
    }
    assert stored == inplan
    # warm path: any refingerprinting attempt is a failure
    monkeypatch.setattr(
        dd,
        "simhash_table",
        lambda *a, **kw: (_ for _ in ()).throw(
            AssertionError("recomputed simhash on a warm store")
        ),
    )
    assert corpus_simhash_store(spark, sf).count() == len(inplan)


def test_gated_candidate_pairs_differential_random_buckets(spark):
    """Differential property test for the generic gate: for ANY
    bucket layout — overlapping ids across buckets, sizes straddling
    the cap — the Spark output equals a pure-Python model computed
    from the gate's definition (below-cap buckets emit all pairs,
    above-cap buckets emit the id-ordered multi-lag chain, pairs
    dedup across buckets). Also pins the connectivity guarantee the
    chain exists for: every hot bucket's members stay in ONE
    connected component of the candidate graph."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kinesis_to_firehose_spark.operators.dedup import (
        gated_candidate_pairs,
    )

    CAP, LAGS = 5, 3

    def model(buckets: dict[tuple[int, int], list[int]]) -> set:
        pairs = set()
        for ids in buckets.values():
            ids = sorted(set(ids))
            if len(ids) <= CAP:
                pairs |= {
                    (a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]
                }
            else:
                for i in range(len(ids)):
                    for j in range(1, LAGS + 1):
                        if i - j >= 0:
                            pairs.add((ids[i - j], ids[i]))
        return pairs

    @settings(max_examples=8, deadline=None)
    @given(
        st.dictionaries(
            st.tuples(st.integers(1, 3), st.integers(0, 4)),
            st.lists(st.integers(0, 25), min_size=1, max_size=12),
            min_size=1,
            max_size=6,
        )
    )
    def check(layout):
        rows = [
            (doc_id, idx, chunk)
            for (idx, chunk), ids in layout.items()
            for doc_id in set(ids)
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, chunk_idx int, chunk long"
        )
        got = {
            (r.doc_id_1, r.doc_id_2)
            for r in gated_candidate_pairs(
                df, "doc_id", ("chunk_idx", "chunk"), cap=CAP, lags=LAGS
            ).collect()
        }
        want = model(layout)
        assert got == want, (sorted(got - want), sorted(want - got))
        # connectivity: within each hot bucket the lag-1 chain links
        # consecutive members, so the bucket is one component
        for ids in layout.values():
            ids = sorted(set(ids))
            if len(ids) > CAP:
                for a, b in zip(ids, ids[1:]):
                    assert (a, b) in got

    check()


def test_allpairs_suffix_bound_is_sound_on_random_sets():
    """Pure-Python model of the ngram-jaccard candidate math: on random
    set pairs under a global order, (a) the asymmetric prefixes of any
    pair with J >= tau share an element, and (b) the pair-level suffix
    bound p + max(min(n1-L1, n2-p), min(n2-L2, n1-p)) is >= the true
    intersection — i.e. the filter can never drop a qualifying pair.
    Guards the TAU_P/TAU_Q integer-ceil formulas and the bound's
    case analysis against future edits."""
    import random

    from kinesis_to_firehose_spark.operators.dedup import (
        JACCARD_TAU,
        TAU_P,
        TAU_Q,
    )

    rng = random.Random(99)
    universe = list(range(500))

    def prefix_probe(n):
        return n - ((TAU_P * n + TAU_Q - 1) // TAU_Q) + 1

    def prefix_index(n):
        return n - (
            (2 * TAU_P * n + TAU_P + TAU_Q - 1) // (TAU_P + TAU_Q)
        ) + 1

    checked_pairs = 0
    for trial in range(4000):
        n1 = rng.randint(1, 40)
        a = set(rng.sample(universe, n1))
        if trial % 2:
            # near-duplicate twin: drop/add a few elements (J >= tau
            # cases come from here)
            b = set(a)
            for _ in range(rng.randint(0, max(1, n1 // 3))):
                if b and rng.random() < 0.5:
                    b.discard(rng.choice(sorted(b)))
                else:
                    b.add(rng.choice(universe))
            if not b:
                b = {rng.choice(universe)}
        else:
            b = set(rng.sample(universe, rng.randint(1, 40)))
        n1, n2 = len(a), len(b)
        inter = len(a & b)
        jac = inter / (n1 + n2 - inter)
        # orient: probe = larger (or tie-broken) side, index = smaller
        (np_, pa), (ni_, pb) = sorted(
            [(n1, a), (n2, b)], key=lambda t: -t[0]
        )
        pref_a = set(sorted(pa)[: prefix_probe(np_)])
        pref_b = set(sorted(pb)[: prefix_index(ni_)])
        p = len(pref_a & pref_b)
        lp, li = prefix_probe(np_), prefix_index(ni_)
        ub = p + max(min(np_ - lp, ni_ - p), min(ni_ - li, np_ - p))
        # the suffix bound is an upper bound on the TRUE intersection
        # for every pair (whichever side w* falls on, one of the two
        # max-arms is the valid case bound)
        assert ub >= inter, (p, ub, inter, np_, ni_)
        if jac >= JACCARD_TAU and TAU_P * np_ <= TAU_Q * ni_:
            checked_pairs += 1
            assert p >= 1, (sorted(pa), sorted(pb))  # prefixes collide
    assert checked_pairs > 200  # the generator produced real cases


def test_jaccard_pairs_store_equals_direct_plan(spark, tmp_path, monkeypatch):
    """corpus_jaccard_pairs_store serves exactly the AllPairs plan's
    rows (the store is an implementation detail results must not
    observe — round-10 verdict task 4), and dedup_ngram_jaccard /
    dedup_minhash_eval's truth side both read it."""
    from kinesis_to_firehose_spark.operators.dedup import (
        dedup_ngram_jaccard,
        ngram_jaccard_plan,
    )
    from kinesis_to_firehose_spark.sources.dedup_index import (
        corpus_jaccard_pairs_store,
    )

    sf = "/root/testdata/sf0.001"
    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path / "cache"))
    direct = sorted(tuple(r) for r in ngram_jaccard_plan(spark, sf).collect())
    stored = sorted(
        tuple(r) for r in corpus_jaccard_pairs_store(spark, sf).collect()
    )
    assert stored == direct
    assert direct  # non-vacuous: the corpus has τ-duplicates
    via_op = sorted(
        tuple(r) for r in dedup_ngram_jaccard(spark, sf).collect()
    )
    assert via_op == direct


def test_containment_pairs_store_equals_direct_plan(
    spark, tmp_path, monkeypatch
):
    """corpus_containment_pairs_store serves exactly the asymmetric
    prefix-filtered plan's rows (round-11 verdict task 1: the Σdf²
    candidate ramp is paid once per corpus, never per query), and
    dedup_containment reads it."""
    from kinesis_to_firehose_spark.operators.dedup import (
        containment_plan,
        dedup_containment,
    )
    from kinesis_to_firehose_spark.sources.dedup_index import (
        corpus_containment_pairs_store,
    )

    sf = "/root/testdata/sf0.001"
    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path / "cache"))
    direct = sorted(tuple(r) for r in containment_plan(spark, sf).collect())
    stored = sorted(
        tuple(r)
        for r in corpus_containment_pairs_store(spark, sf).collect()
    )
    assert stored == direct
    assert direct  # non-vacuous: the corpus has τ-containment pairs
    via_op = sorted(tuple(r) for r in dedup_containment(spark, sf).collect())
    assert via_op == direct


def test_substring_stats_store_equals_direct_plan(
    spark, tmp_path, monkeypatch
):
    """corpus_substring_stats_store serves exactly the window-gram
    plan's per-doc rows (round-11 verdict task 2), and dedup_substring
    reads it."""
    from kinesis_to_firehose_spark.operators.dedup import (
        dedup_substring,
        substring_plan,
    )
    from kinesis_to_firehose_spark.sources.dedup_index import (
        corpus_substring_stats_store,
    )

    sf = "/root/testdata/sf0.001"
    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path / "cache"))
    direct = sorted(tuple(r) for r in substring_plan(spark, sf).collect())
    stored = sorted(
        tuple(r)
        for r in corpus_substring_stats_store(spark, sf).collect()
    )
    assert stored == direct
    assert any(r[2] > 0 for r in direct)  # non-vacuous: dup spans exist
    via_op = sorted(tuple(r) for r in dedup_substring(spark, sf).collect())
    assert via_op == direct


def test_pointer_double_forest_matches_naive_walk(spark):
    """Pointer doubling over a random parent forest (round-10 verdict
    task 1) returns exactly the naive walk's (root, depth) for every
    node — including a planted deep CHAIN, where the round count must
    be logarithmic in depth, not linear."""
    import random

    from kinesis_to_firehose_spark.operators.dedup import (
        pointer_double_forest,
    )

    rng = random.Random(10)
    # random forest: each node > 0 picks a parent below it with p=0.7
    parents = {}
    for doc in range(1, 400):
        if rng.random() < 0.7:
            parents[doc] = rng.randrange(doc)
    # planted path: a 65-deep chain (2^6 < 65 ≤ 2^7)
    chain = list(range(10_000, 10_066))
    for a, b in zip(chain, chain[1:]):
        parents[b] = a

    def naive(doc):
        depth = 0
        while doc in parents:
            doc = parents[doc]
            depth += 1
        return doc, depth

    pdf = spark.createDataFrame(
        list(parents.items()), "doc long, parent long"
    )
    m, rounds = pointer_double_forest(pdf)
    got = {r["doc"]: (r["anc"], r["depth"]) for r in m.collect()}
    assert got == {d: naive(d) for d in parents}
    # 65-deep chain: ⌈log₂ 65⌉ = 7 splice rounds + 1 no-op detection
    assert rounds <= 8, rounds


def test_pointer_double_forest_rejects_cycles(spark, monkeypatch):
    """A cyclic input (violating the parent < doc forest contract)
    must raise, not silently return a partially collapsed mapping
    (ADVICE r10). The round cap is monkeypatched down so the test
    doesn't run 48 real splice rounds."""
    import pytest

    from kinesis_to_firehose_spark.operators import dedup

    monkeypatch.setattr(dedup, "_PROV_MAX_ROUNDS", 5)
    pdf = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "doc long, parent long"
    )
    with pytest.raises(ValueError, match="not an acyclic"):
        dedup.pointer_double_forest(pdf)


def test_ann_index_probe_store_equals_direct_plan(
    spark, tmp_path, monkeypatch
):
    """ann_index_probe's epoch-layout store (old corpus at epoch 0,
    ingest batch appended as epoch 1 through the frozen codebook) is
    an implementation detail the results must not observe: the op's
    output equals the declarative IVF probe over the unioned corpus
    with old-seeded centroids (round-11 verdict task 5)."""
    from pyspark.sql.window import Window as W

    from kinesis_to_firehose_spark.operators.dedup import (
        dot_expr,
        normed_embeddings,
    )
    from kinesis_to_firehose_spark.operators.similarity import (
        ANN_NEW_MOD,
        ANN_PROBE_QBOUND,
        IVF_TOP_K,
        N_CENTROIDS,
        N_PROBE,
        _assign_cells,
        _ranked_cells,
        ann_index_probe,
    )

    sf = "/root/testdata/sf0.01"
    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path / "cache"))
    n = normed_embeddings(spark, sf)
    is_new = F.col("vec_id") % ANN_NEW_MOD == 0
    cents = n.filter(~is_new & (F.col("vec_id") < N_CENTROIDS)).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    queries = n.filter(is_new & (F.col("vec_id") < ANN_PROBE_QBOUND))
    qa = (
        _ranked_cells(queries, cents)
        .filter(F.col("rk") <= N_PROBE)
        .select(F.col("vec_id").alias("query_id"), "cell")
    )
    ca = _assign_cells(n, cents).select(
        F.col("vec_id").alias("candidate_id"), "cell"
    )
    probe = qa.join(ca, "cell").filter(
        F.col("query_id") != F.col("candidate_id")
    )
    emb_q = n.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    emb_c = n.select(
        F.col("vec_id").alias("candidate_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    cos = f"({dot_expr('q_emb', 'c_emb', 'spark')} / (q_nrm * c_nrm))"
    scored = (
        probe.join(emb_q, "query_id")
        .join(emb_c, "candidate_id")
        .select(
            "query_id",
            "candidate_id",
            "cell",
            F.round(F.expr(cos), 6).alias("cosine"),
        )
    )
    wk = W.partitionBy("query_id").orderBy(F.desc("cosine"), "candidate_id")
    direct = sorted(
        tuple(r)
        for r in scored.withColumn(
            "rk", F.row_number().over(wk).cast("bigint")
        )
        .filter(F.col("rk") <= IVF_TOP_K)
        .select("query_id", "candidate_id", "cell", "cosine", "rk")
        .collect()
    )
    got = sorted(tuple(r) for r in ann_index_probe(spark, sf).collect())
    assert got == direct
    assert direct  # non-vacuous: queries exist in the new batch


def test_ann_index_probe_plan_reads_store_and_prunes_epochs(
    spark, tmp_path, monkeypatch
):
    """ann_index_probe's physical plan reads the persisted epoch store
    (no in-plan corpus re-assignment)."""
    from kinesis_to_firehose_spark.operators.similarity import (
        ann_index_probe,
    )

    sf = "/root/testdata/sf0.001"
    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path / "cache"))
    # explain toString truncates long store locations, so assert on
    # the actual input files: every scanned parquet must come from the
    # persisted epoch store (or the broadcast query-side corpus read)
    probe_df = ann_index_probe(spark, sf)
    files = probe_df.inputFiles()
    assert any("ann_index_epochs" in f for f in files), files


def test_edit_pairs_store_equals_direct_plan(spark, tmp_path, monkeypatch):
    """corpus_edit_pairs_store serves exactly the PassJoin plan's rows
    (round-11: the last heavy dedup pair op moved behind a store), and
    dedup_edit_distance reads it."""
    from kinesis_to_firehose_spark.operators.dedup import (
        dedup_edit_distance,
        edit_distance_plan,
    )
    from kinesis_to_firehose_spark.sources.dedup_index import (
        corpus_edit_pairs_store,
    )

    sf = "/root/testdata/sf0.001"
    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path / "cache"))
    direct = sorted(
        tuple(r) for r in edit_distance_plan(spark, sf).collect()
    )
    stored = sorted(
        tuple(r) for r in corpus_edit_pairs_store(spark, sf).collect()
    )
    assert stored == direct
    assert direct  # non-vacuous: tau-close prefixes exist
    via_op = sorted(
        tuple(r) for r in dedup_edit_distance(spark, sf).collect()
    )
    assert via_op == direct
