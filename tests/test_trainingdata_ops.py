"""Dedup / similarity / text-analysis / multimodal operators on the
driver-provided documents + embeddings tables (sf0.001)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from timeseries_harmonizer_spark.functions.textstats import (
    with_fingerprint,
    with_lang_guess,
    with_quality_score,
    with_token_counts,
)
from timeseries_harmonizer_spark.operators import docdedup as D
from timeseries_harmonizer_spark.operators.multimodal import (
    extract_features,
    synthetic_media,
)
from timeseries_harmonizer_spark.operators.similarity import brute_force_topk, lsh_topk

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet")
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet")
    df.cache().count()
    return df


def test_exact_dedup_with_planted_dups(spark, docs):
    # plant dups: re-append 5 docs with new ids
    dup = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 1000000)
    all_docs = docs.unionByName(dup)
    out = D.exact_dedup(all_docs).toPandas()
    assert (out["n_copies"] > 1).sum() == 5
    assert out["n_copies"].sum() == all_docs.count()
    # representative is the smallest id -> original, not the planted copy
    assert (out.loc[out["n_copies"] > 1, "keep_id"] < 1000000).all()


def test_minhash_lsh_finds_planted_near_dups(spark, docs):
    # near-dup: copy of doc with one word changed at the end
    base = docs.where("doc_id < 5").toPandas()
    mutated = base.copy()
    mutated["doc_id"] += 2000
    mutated["text"] = mutated["text"] + " zzz"
    all_docs = docs.unionByName(spark.createDataFrame(mutated))
    pairs = D.minhash_near_dups(all_docs, threshold=0.6).toPandas()
    found = set(zip(pairs["id_a"], pairs["id_b"]))
    for i in range(5):
        assert (i, i + 2000) in found, (i, sorted(found)[:10])


def test_jaccard_exact_values(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": ["a b c d e", "a b c d x"],
        }
    )
    df = spark.createDataFrame(pdf)
    sh = D.shingles(df, n=2)  # bigrams: {ab,bc,cd,de} vs {ab,bc,cd,dx}
    pairs = spark.createDataFrame(pd.DataFrame({"id_a": [1], "id_b": [2]}))
    out = D.jaccard_on_pairs(sh, pairs).toPandas()
    assert np.isclose(out["jaccard"].iloc[0], 3 / 5)


def test_shared_token_pairs_universal_token_capped(spark):
    """The df cap on shared_token_pairs: a token present in every doc would
    alone make the candidate self-join quadratic (C(200,2) pairs); with the
    cap those candidates never materialize, while a planted near-dup pair
    sharing rare tokens is still found and verifies at full Jaccard."""
    n = 200
    texts = [f"universal tok{i}a tok{i}b tok{i}c" for i in range(n)]
    texts[7] = "universal rare1 rare2 rare3 rare4"
    texts[13] = "universal rare1 rare2 rare3 rare5"
    df = spark.createDataFrame(pd.DataFrame({"doc_id": range(n), "text": texts}))
    sh = D.shingles(df, n=1)
    pairs = D.shared_token_pairs(sh, max_token_df=10).toPandas()
    # only the planted pair shares a sub-cap token; the universal token's
    # C(200,2)=19900 candidates are dropped
    assert set(map(tuple, pairs.to_numpy().tolist())) == {(7, 13)}
    verified = D.jaccard_on_pairs(sh, spark.createDataFrame(pairs)).toPandas()
    assert np.isclose(verified["jaccard"].iloc[0], 4 / 6)  # {universal,r1..r3} of 6
    # uncapped control: the universal token pairs everything with everything
    assert D.shared_token_pairs(sh, max_token_df=None).count() == n * (n - 1) // 2


def test_boilerplate_segment_filter(spark):
    """Planted template: 4 docs share an 8-word header segment (df=4 > cap
    2) plus unique bodies — the header vanishes from every doc, bodies
    survive verbatim; a fully-boilerplate doc comes back empty."""
    header = "site nav menu login search footer legal contact"
    bodies = [f"body{i}a body{i}b body{i}c body{i}d body{i}e body{i}f body{i}g body{i}h"
              for i in range(3)]
    texts = [f"{header} {b}" for b in bodies] + [header]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(4), "text": texts})
    )
    out = (
        D.boilerplate_segment_filter(df, seg_words=8, max_df=2)
        .orderBy("doc_id")
        .toPandas()
    )
    for i in range(3):
        assert out.loc[i, "clean_text"] == bodies[i]
        assert out.loc[i, "n_kept"] == 1 and out.loc[i, "n_removed"] == 1
    assert out.loc[3, "clean_text"] == "" and out.loc[3, "n_kept"] == 0


def test_textstats(docs):
    out = (
        with_fingerprint(with_lang_guess(with_quality_score(with_token_counts(docs))))
        .select("doc_id", "ws_tokens", "re_tokens", "quality", "lang_guess", "fingerprint", "n_chars", "text")
        .toPandas()
    )
    # token counts consistent with n_chars ground truth: ws_tokens = words
    row = out.iloc[0]
    assert row["ws_tokens"] == len(row["text"].split())
    assert (out["quality"] >= 0).all() and (out["quality"] <= 1.001).all()
    assert out["fingerprint"].str.len().eq(32).all()
    assert set(out["lang_guess"]) <= {"en", "es", "de", "und"}
    # deterministic: same text -> same fingerprint
    assert out["fingerprint"].nunique() == out["text"].str.lower().str.replace(r"\s+", " ", regex=True).nunique()


def test_brute_force_topk(spark, emb):
    out = brute_force_topk(emb, query_ids=[0, 1], k=5).toPandas()
    assert set(out["query_id"]) == {0, 1}
    assert out.groupby("query_id")["rank"].max().eq(5).all()
    # oracle: numpy cosine for query 0
    pdf = emb.toPandas()
    vecs = np.stack(pdf["embedding"].to_numpy())
    q = vecs[pdf["vec_id"].to_numpy() == 0][0]
    sims = vecs @ q / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    ids = pdf["vec_id"].to_numpy()
    order = [i for i in np.argsort(-sims) if ids[i] != 0][:5]
    exp = ids[order]
    got = out[out["query_id"] == 0].sort_values("rank")["neighbor_id"].to_numpy()
    assert list(got) == list(exp)


def test_lsh_topk_recall(spark, emb):
    qids = [0, 1, 2, 3, 4]
    exact = brute_force_topk(emb, qids, k=5).toPandas()
    approx = lsh_topk(emb, qids, k=5, n_planes=4, n_tables=10).toPandas()
    hits = 0
    for q in qids:
        e = set(exact[exact["query_id"] == q]["neighbor_id"])
        a = set(approx[approx["query_id"] == q]["neighbor_id"])
        hits += len(e & a)
    recall = hits / (5 * len(qids))
    assert recall >= 0.5, recall  # ANN tradeoff, but must be far above chance


def test_multimodal_plumbing(spark):
    media = synthetic_media(spark, n=24)
    feats = extract_features(media).toPandas()  # default = REAL PPM decode
    assert len(feats) == 24
    assert feats["byte_entropy"].between(0, 8).all()
    assert {"mean_r", "mean_g", "mean_b"} <= set(feats.columns)
    # payloads are ASCII hex pixels -> every channel mean is a code point
    for c in ("mean_r", "mean_g", "mean_b"):
        assert feats[c].between(ord("0"), ord("f")).all()


def test_real_ppm_decode_matches_payload(spark):
    """The generator's payloads are real PPMs: decoding one must reproduce
    exactly the pixel bytes the Spark expressions generated."""
    import numpy as np

    from timeseries_harmonizer_spark.operators.multimodal import decode_image

    row = synthetic_media(spark, n=3).orderBy("media_id").toPandas().iloc[0]
    img = decode_image(bytes(row["payload"]))
    assert img.shape == (row["height"], row["width"], 3)
    body = bytes(row["payload"]).split(b"\n255\n", 1)[1]
    assert img.tobytes() == body
    assert np.isclose(
        img.reshape(-1, 3)[:, 0].mean(), np.frombuffer(body, np.uint8)[::3].mean()
    )


def test_codec_roundtrips():
    import numpy as np

    from timeseries_harmonizer_spark.operators.multimodal import (
        decode_bmp,
        decode_ppm,
        decode_wav,
        encode_bmp,
        encode_ppm,
        encode_wav,
    )

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (23, 17, 3), dtype=np.uint8)  # odd width: padding
    assert (decode_ppm(encode_ppm(img)) == img).all()
    assert (decode_bmp(encode_bmp(img)) == img).all()
    s = rng.uniform(-1, 1, (800, 2))
    s2, rate = decode_wav(encode_wav(s, 22050))
    assert rate == 22050 and s2.shape == (800, 2)
    assert np.abs(s2 - s).max() < 1 / 32767


def test_decode_unknown_codec_raises(spark):
    from timeseries_harmonizer_spark.operators.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG\r\n", 4, 4, fake=False)
    # fake path still available for unknown codecs (shape-correct)
    img = decode_image(b"\x89PNG\r\n", 4, 6, fake=True)
    assert img.shape == (6, 4, 3)


def test_lsh_mega_bucket_capped(spark):
    """Degenerate-bucket guard: 1200 identical docs share every band bucket;
    with a cap the within-bucket self-join (~720k pairs x 8 bands) never
    materializes — mass-identical docs are exact_dedup's job."""
    docs = pd.DataFrame(
        {"doc_id": range(1200), "text": ["the same exact boilerplate text here"] * 1200}
    )
    df = spark.createDataFrame(docs)
    assert D.minhash_near_dups(df, threshold=0.3, max_bucket=100).count() == 0
    # uncapped control on a small subset still pairs everything up
    sub = spark.createDataFrame(docs.head(10))
    assert D.minhash_near_dups(sub, threshold=0.3, max_bucket=None).count() == 45


def test_cosine_near_dups_exact_and_lsh(spark, emb):
    """Exact near-dup pairs match a numpy oracle; the LSH path returns a
    subset of the exact set (candidates verified with true cosine)."""
    from timeseries_harmonizer_spark.operators.similarity import cosine_near_dups

    tau = 0.40
    pdf = emb.toPandas()
    V = np.stack(pdf["embedding"].to_numpy()).astype("float64")
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    sims = Vn @ Vn.T
    ids = pdf["vec_id"].to_numpy()
    iu = np.triu_indices(len(ids), k=1)
    mask = sims[iu] >= tau
    exp = {
        (int(min(a, b)), int(max(a, b)))
        for a, b in zip(ids[iu[0]][mask], ids[iu[1]][mask])
    }
    got = cosine_near_dups(emb, threshold=tau).toPandas()
    assert {(int(a), int(b)) for a, b in zip(got["id_a"], got["id_b"])} == exp
    lsh = cosine_near_dups(
        emb, threshold=tau, exact=False, n_planes=4, n_tables=12
    ).toPandas()
    lsh_pairs = {(int(a), int(b)) for a, b in zip(lsh["id_a"], lsh["id_b"])}
    assert lsh_pairs <= exp  # verified candidates never exceed the true set


def test_ivf_full_probe_is_exact(spark, emb):
    """Probing every inverted list degrades IVF to exact search: ids and
    ranks must equal brute force."""
    from timeseries_harmonizer_spark.operators.similarity import brute_force_topk, ivf_topk

    bf = (
        brute_force_topk(emb, [0, 1, 2], k=5)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    ivf = (
        ivf_topk(emb, [0, 1, 2], k=5, n_lists=8, nprobe=8, iters=2)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert bf[["query_id", "neighbor_id", "rank"]].equals(
        ivf[["query_id", "neighbor_id", "rank"]]
    )


def test_ivf_partial_probe_recall(spark, emb):
    from timeseries_harmonizer_spark.operators.similarity import (
        brute_force_topk,
        ivf_build,
        ivf_topk,
    )

    qids = [0, 1, 2, 3, 4]
    bf = brute_force_topk(emb, qids, k=5).toPandas()
    index = ivf_build(emb, n_lists=8, iters=2)
    ivf = ivf_topk(emb, qids, k=5, n_lists=8, nprobe=3, index=index).toPandas()
    truth = {(int(q), int(n)) for q, n in zip(bf["query_id"], bf["neighbor_id"])}
    got = {(int(q), int(n)) for q, n in zip(ivf["query_id"], ivf["neighbor_id"])}
    recall = len(got & truth) / len(truth)
    assert recall >= 0.4, recall
    assert len(got) <= len(truth)  # never more than k per query


def test_connected_components_clusters(spark):
    """Two planted clusters (one a chain — needs >1 propagation round — one
    a triangle) plus an isolated pair: every node gets the min id of its
    cluster."""
    pairs = pd.DataFrame(
        {"id_a": [1, 2, 3, 10, 10, 20], "id_b": [2, 3, 4, 11, 12, 21]}
    )
    out = (
        D.connected_components(spark.createDataFrame(pairs))
        .toPandas()
        .set_index("id")["component"]
        .to_dict()
    )
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_token_budget_sample(spark):
    """Strict-prefix quota: per group, docs keep in (tokens desc, id) order
    while the running total stays within budget; later smaller docs do NOT
    backfill once the prefix stops."""
    from timeseries_harmonizer_spark.functions.textstats import token_budget_sample

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 10, 11],
            "lang_guess": ["en"] * 4 + ["es"] * 2,
            "ws_tokens": [5, 4, 3, 2, 7, 9],
        }
    )
    out = (
        token_budget_sample(spark.createDataFrame(pdf), budget_tokens=10)
        .toPandas()
        .sort_values("doc_id")
    )
    # en: 5+4=9 <= 10, +3 would be 12 -> prefix stops (doc 4 not backfilled)
    # es: 9 then 9+7=16 > 10 -> only the longest survives
    assert out["doc_id"].tolist() == [1, 2, 11]


def test_token_budget_sample_equals_naive_prefix(spark):
    """The histogram two-phase plan must pick EXACTLY the naive
    (tokens desc, id asc) prefix on random data with heavy length ties."""
    from pyspark.sql import Window as W

    from timeseries_harmonizer_spark.functions.textstats import token_budget_sample

    rng = np.random.default_rng(6)
    pdf = pd.DataFrame(
        {
            "doc_id": range(400),
            "lang_guess": rng.choice(["en", "es", "de"], 400),
            "ws_tokens": rng.integers(1, 12, 400),  # many exact ties
        }
    )
    df = spark.createDataFrame(pdf)
    got = set(
        token_budget_sample(df, budget_tokens=300).toPandas()["doc_id"]
    )
    w = (
        W.partitionBy("lang_guess")
        .orderBy(F.col("ws_tokens").desc(), F.col("doc_id").asc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    naive = (
        df.withColumn("__cum", F.sum("ws_tokens").over(w))
        .where(F.col("__cum") <= 300)
        .toPandas()
    )
    assert got == set(naive["doc_id"]) and len(got) > 50


# -- property-based codec round-trips (no Spark; pure numpy) ---------------

from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=30, deadline=None)
@given(
    w=st.integers(1, 40),
    h=st.integers(1, 40),
    seed=st.integers(0, 2**31 - 1),
)
def test_ppm_bmp_roundtrip_property(w, h, seed):
    import numpy as np

    from timeseries_harmonizer_spark.operators.multimodal import (
        decode_bmp,
        decode_ppm,
        encode_bmp,
        encode_ppm,
    )

    img = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
    assert (decode_ppm(encode_ppm(img)) == img).all()
    assert (decode_bmp(encode_bmp(img)) == img).all()


@settings(max_examples=30, deadline=None)
@given(
    n=st.integers(1, 2000),
    ch=st.integers(1, 2),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(0, 2**31 - 1),
)
def test_wav_roundtrip_property(n, ch, rate, seed):
    import numpy as np

    from timeseries_harmonizer_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    s = np.random.default_rng(seed).uniform(-1.2, 1.2, (n, ch))  # incl. clip range
    out, r = decode_wav(encode_wav(s, rate))
    assert r == rate and out.shape == (n, ch)
    assert np.abs(out - np.clip(s, -1, 1)).max() <= 1 / 32767 + 1e-12


def test_connected_components_star_matches_label(spark):
    """Star algorithm == min-label on a clustered random graph, and the
    'star' / explicit-algorithm paths agree with the planted clusters."""
    rng = np.random.default_rng(11)
    # 30 planted clusters of 2-9 nodes, edges random within each cluster
    rows_a, rows_b = [], []
    base = 0
    for _ in range(30):
        k = int(rng.integers(2, 10))
        ids = np.arange(base, base + k)
        for _ in range(k + 2):
            a, b = rng.choice(ids, 2, replace=False)
            rows_a.append(int(a)), rows_b.append(int(b))
        base += k + int(rng.integers(0, 3))  # id gaps between clusters
    pairs = spark.createDataFrame(pd.DataFrame({"id_a": rows_a, "id_b": rows_b}))
    lab = D.connected_components(pairs, algorithm="label").toPandas()
    star = D.connected_components(pairs, algorithm="star").toPandas()
    assert (
        lab.sort_values("id").reset_index(drop=True)
        .equals(star.sort_values("id").reset_index(drop=True))
    )


def test_connected_components_star_path_graph_log_rounds(spark):
    """r4 verdict #4: a 10^5-node PATH graph — the min-label worst case
    (needs 10^5 rounds) — must converge in O(log n) star rounds with every
    node labeled 0; 'auto' must hand this shape to the star path."""
    n = 100_000
    path = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    stats = {}
    out = D.connected_components_star(path, stats=stats)
    assert stats["rounds"] <= 40, stats  # ~2*log2(n), not diameter
    agg = out.agg(
        F.count("*").alias("n"),
        F.countDistinct("component").alias("ncomp"),
        F.max("component").alias("mx"),
    ).first()
    assert (agg["n"], agg["ncomp"], agg["mx"]) == (n, 1, 0)

    # the auto heuristic: min-label does not converge in its probe rounds
    # on a path, so auto falls through to the star result
    small_path = spark.range(499).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    auto = D.connected_components(small_path, algorithm="auto")
    a = auto.agg(F.countDistinct("component"), F.max("component")).first()
    assert tuple(a) == (1, 0)


def test_connected_components_label_converges_on_max_iter(spark):
    """A path graph of diameter d reaches its fixed point in exactly d
    min-label rounds; label mode with max_iter=d confirms it with one idle
    round instead of raising. A path one edge longer still raises."""
    import pytest

    d = 4
    path = spark.range(d).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    out = D.connected_components(path, algorithm="label", max_iter=d).toPandas()
    assert out.set_index("id")["component"].to_dict() == {i: 0 for i in range(d + 1)}
    longer = spark.range(d + 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(longer, algorithm="label", max_iter=d)


def test_connected_components_label_unconverged_raises(spark):
    """ADVICE r5: opt-in 'label' mode must fail loudly when max_iter rounds
    leave labels mid-propagation (silently-partial components), while the
    same graph under 'auto' falls through to the star path and succeeds;
    the star stats record convergence explicitly."""
    import pytest

    path = spark.range(200).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(path, algorithm="label", max_iter=3)
    stats = {}
    out = D.connected_components_star(path, stats=stats)
    assert stats["converged"] is True
    assert out.agg(F.countDistinct("component")).first()[0] == 1
