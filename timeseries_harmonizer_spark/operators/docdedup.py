"""Document deduplication at training-data scale (SURVEY-extension ops):
exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design for 100 TB: every method is shuffle-bounded —
- exact/fingerprint dedup: single hash aggregation on a digest (never the
  raw text), map-side combined;
- MinHash LSH: shingle -> K minhashes -> B bands -> bucket join; candidate
  pairs only ever materialize within a band bucket (no O(n^2));
- SimHash: a 64-bit signature per document (one hash aggregation); near-dup
  pairs come from MinHash LSH or cosine similarity;
- n-gram Jaccard: exact verification on LSH/bucket candidates only.

Everything is Column-expression arithmetic on xxhash64/md5 digests — no
Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

# Large prime below 2^31 for the (a*x + b) % p minhash family.
_MH_PRIME = 2147483647


def normalized(text_col) -> F.Column:
    return F.regexp_replace(F.lower(F.trim(text_col)), r"\s+", " ")


def exact_dedup(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by md5 of normalized text: one row per distinct digest,
    keeping the smallest id (deterministic representative) and the group
    size. Hash-aggregate on the 16-byte digest, not the document."""
    key = F.md5(normalized(F.col(text))).alias("digest")
    return (
        df.select(key, F.col(id_col))
        .groupBy("digest")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def shingles(df: DataFrame, text: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Word n-gram shingles, hashed to 64-bit: (id, shingle_hash) distinct.

    r6: per-(id, shingle) uniqueness is a ROW-LOCAL property (all of a
    doc's shingles live in one array before the explode), so it is enforced
    with ``array_distinct`` map-side instead of a ``.distinct()`` — which
    planned a full (id, shingle) shuffle + two hash aggregates in every
    consumer of this frame (q32's plan evaluates it six times)."""
    toks = F.split(normalized(F.col(text)), " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    sh = F.transform(
        idx, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )
    return df.select(F.col(id_col), F.explode(F.array_distinct(sh)).alias("shingle"))


def shared_token_pairs(
    sh: DataFrame, id_col: str = "doc_id", max_token_df: int | None = 1000
) -> DataFrame:
    """Candidate pairs sharing at least one token/shingle with document
    frequency <= max_token_df (columns id_a < id_b, distinct).

    The df cap is the inverted-index twin of lsh_candidate_pairs'
    max_bucket guard: an uncapped shared-token self-join goes quadratic the
    moment one universal token ("the", empty-doc boilerplate) spans the
    corpus. A token kept by the cap contributes at most C(max_token_df, 2)
    pairs, so candidate volume is linear in token count. Docs whose every
    shared token is above the cap are near-identical boilerplate en masse —
    exact_dedup's job, like dropped LSH mega-buckets. The count window
    shares the join's shuffle key (token), so the guard adds no exchange.
    For open-ended corpora prefer minhash_near_dups: banding bounds
    candidates without a df heuristic."""
    if max_token_df is not None:
        sh = sh.withColumn(
            "__df", F.count("*").over(W.partitionBy("shingle"))
        ).where(F.col("__df") <= max_token_df).drop("__df")
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    return (
        a.join(b, ["shingle"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def boilerplate_segment_filter(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    seg_words: int = 8,
    max_df: int = 2,
) -> DataFrame:
    """Corpus-level boilerplate removal (the CCNet/RefinedWeb line-dedup
    discipline, applied to fixed word windows since web text here has no
    line structure): split each doc into consecutive ``seg_words``-word
    segments, drop every segment whose document frequency exceeds
    ``max_df`` (shared headers/footers/templates), and reassemble the
    surviving segments in original order.

    Returns (id, clean_text, n_kept, n_removed) for EVERY input doc
    (fully-boilerplate docs come back with empty text).

    Scale shape: one segment-hash aggregation (map-side combined, distinct
    per doc first so a doc can't inflate its own segment's df) + one
    equi-join back + one per-doc reassembly groupBy — all shuffle keys are
    the segment hash or the doc id, never the text."""
    norm = normalized(F.col(text))
    toks = F.split(norm, " ")
    nseg = F.ceil(F.size(toks) / seg_words).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), F.greatest(nseg - 1, F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i * seg_words + 1, seg_words), " "),
    )
    exploded = df.select(
        F.col(id_col), F.posexplode(segs).alias("pos", "seg")
    )
    # r6: per-doc seg uniqueness is row-local (a doc's segments are one
    # array) — array_distinct map-side replaces the (id, seg) distinct
    # shuffle; the groupBy(seg) partial agg then combines map-side too.
    seg_df = (
        df.select(F.col(id_col), F.explode(F.array_distinct(segs)).alias("seg"))
        .groupBy("seg")
        .agg(F.count("*").alias("__df"))
    )
    kept = exploded.join(seg_df, "seg").withColumn(
        "__keep", F.col("__df") <= max_df
    )
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__keep"), F.struct(F.col("pos"), F.col("seg"))
                        )
                    )
                ),
                lambda x: x["seg"],
            ),
            " ",
        ).alias("clean_text"),
        F.sum(F.col("__keep").cast("long")).alias("n_kept"),
        F.sum((~F.col("__keep")).cast("long")).alias("n_removed"),
    )
    return df.select(id_col).join(reassembled, id_col, "left").select(
        id_col,
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
    )


def minhash_signatures(
    sh: DataFrame, id_col: str = "doc_id", num_hashes: int = 32, seed: int = 7
) -> DataFrame:
    """K min-hashes per doc via the (a*h+b) % p family over shingle hashes.
    One aggregation: groupBy(doc) of K mins (map-side combined)."""
    import random

    rnd = random.Random(seed)
    coeffs = [(rnd.randrange(1, _MH_PRIME), rnd.randrange(0, _MH_PRIME)) for _ in range(num_hashes)]
    h = F.pmod(F.col("shingle"), F.lit(_MH_PRIME))
    aggs = [
        F.min(F.pmod(h * a + b, F.lit(_MH_PRIME))).alias(f"mh_{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    rows_per_band: int = 4,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Band the signature (bands x rows), bucket-join within bands, distinct
    candidate pairs (a < b). Shuffle key = (band, bucket_hash).

    max_bucket guards the within-bucket self-join against degenerate
    mega-buckets (e.g. millions of empty/boilerplate docs sharing one
    signature -> a quadratic candidate set): buckets above the cutoff are
    dropped. Members of a dropped bucket are near-identical en masse and are
    the exact-dedup operator's job; the cap is the standard LSH guard."""
    assert bands * rows_per_band <= sum(c.startswith("mh_") for c in sigs.columns)
    band_rows = []
    for b in range(bands):
        cols = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_rows.append(
            sigs.select(
                F.col(id_col),
                F.lit(b).alias("band"),
                F.xxhash64(*cols).alias("bucket"),
            )
        )
    buckets = band_rows[0]
    for br in band_rows[1:]:
        buckets = buckets.unionByName(br)
    if max_bucket is not None:
        # same partitioning key as the self-join below -> one shuffle total
        n = F.count("*").over(W.partitionBy("band", "bucket"))
        buckets = (
            buckets.withColumn("__n", n).where(F.col("__n") <= max_bucket).drop("__n")
        )
    left = buckets.alias("l")
    right = buckets.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .distinct()
    )


def jaccard_on_pairs(
    sh: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Exact shingle-set Jaccard for given candidate pairs only."""
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = sh.withColumnRenamed(id_col, "id_a")
    b = sh.withColumnRenamed(id_col, "id_b")
    common = (
        pairs.join(a, "id_a")
        .join(b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("common"))
    )
    return (
        common.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")), 6
            ).alias("jaccard"),
        )
    )


def minhash_near_dups(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle -> sign -> band ->
    candidate pairs (mega-buckets capped) -> exact Jaccard verify >=
    threshold."""
    sh = shingles(df, text, id_col, n)
    sigs = minhash_signatures(sh, id_col, num_hashes)
    pairs = lsh_candidate_pairs(sigs, id_col, bands, num_hashes // bands, max_bucket)
    return jaccard_on_pairs(sh, pairs, id_col).where(F.col("jaccard") >= threshold)


def simhash(df: DataFrame, text: str = "text", id_col: str = "doc_id",
            token_hash=None) -> DataFrame:
    """64-bit SimHash over token hashes: bit b of the signature is the sign
    of sum(+-1 per token at bit b). Pure expression: explode tokens, per-bit
    contributions via bitwise ops, one aggregation.

    token_hash: optional Column -> Column producing the 64-bit token hash
    (default xxhash64, the fast JVM path). Passing a portable hash (e.g. an
    md5-derived one) makes the signature reproducible outside Spark."""
    toks = F.explode(F.split(normalized(F.col(text)), " ")).alias("tok")
    hcol = token_hash(F.col("tok")) if token_hash else F.xxhash64("tok")
    base = df.select(F.col(id_col), toks).withColumn("h", hcol)
    def bit_mask(b: int) -> int:
        return (1 << b) if b < 63 else -(1 << 63)  # int64 sign bit

    bit_aggs = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(bit_mask(b))) != 0, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(64)
    ]
    per_doc = base.groupBy(id_col).agg(*bit_aggs)
    sig = None
    for b in range(64):
        term = F.when(F.col(f"b{b}") > 0, F.lit(bit_mask(b))).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig.bitwiseXOR(term)
    return per_doc.select(F.col(id_col), sig.alias("simhash"))


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 60,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components by large-star/small-star alternation (Kiveris
    et al., "Connected Components in MapReduce and Beyond", 2014 — public
    algorithm). Unlike min-label propagation (diameter rounds: a 10^5-node
    path graph needs 10^5 rounds), the star operations contract path
    distances geometrically and converge in O(log) rounds on any graph
    shape, so this is the scale path for adversarially deep dup-graphs
    (r4 verdict #4).

    Edges are kept as a canonical big->small pair set. Per round:
    - large-star: every node attaches its strictly LARGER neighbors to the
      minimum of its neighborhood (incl. itself),
    - small-star: every node attaches itself and its smaller neighbors to
      its minimum neighbor.
    Both are one groupBy(min) + one join keyed on the node id; lineage is
    truncated per round (localCheckpoint). Converged when the edge set is
    stable — it is then a star forest: every node points at its component
    minimum. ``stats['rounds']`` reports the rounds used."""
    u, v = F.col("u"), F.col("v")
    e = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    rounds = 0
    for rounds in range(1, max_iter + 1):
        # large-star over the symmetric neighborhoods
        sym = e.unionByName(e.select(v.alias("u"), u.alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        large = (
            sym.join(mins, "u")
            .where(v > u)
            .select(v.alias("u"), F.least(u, F.col("mn")).alias("v"))
            .distinct()
        )
        # small-star over the (big -> small) edges
        mins2 = large.groupBy("u").agg(F.min("v").alias("mn"))
        new_e = (
            large.join(mins2, "u")
            .select(
                F.explode(
                    F.array(
                        F.struct(u.alias("x"), F.col("mn").alias("y")),
                        F.struct(v.alias("x"), F.col("mn").alias("y")),
                    )
                ).alias("s")
            )
            .select(F.col("s.x").alias("u"), F.col("s.y").alias("v"))
            .where(u != v)
            .distinct()
            .localCheckpoint()
        )
        # stable edge set (both are distinct sets: same size + no additions)
        if new_e.count() == e.count() and new_e.subtract(e).isEmpty():
            e = new_e
            star_converged = True
            break
        e = new_e
    else:
        # loop exhausted max_iter without a stable edge set (ADVICE r5:
        # rounds == max_iter was ambiguous between converged-on-last and
        # not-converged) — labels from a non-star edge set may split
        # components, so record it explicitly and warn.
        star_converged = False
        import warnings

        warnings.warn(
            f"connected_components_star did not stabilize in {max_iter} "
            "rounds; components may be split. Raise max_iter.",
            RuntimeWarning,
            stacklevel=2,
        )
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = star_converged
    nodes = (
        pairs.select(F.col(id_a).alias("id"))
        .unionByName(pairs.select(F.col(id_b).alias("id")))
        .distinct()
    )
    final = e.groupBy("u").agg(F.min("v").alias("component"))
    return nodes.join(final, nodes["id"] == final["u"], "left").select(
        "id", F.coalesce("component", "id").alias("component")
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    algorithm: str = "auto",
) -> DataFrame:
    """Dedup clustering: connected components over a near-dup pair list,
    returning (id, component) with component = the minimum id reachable.
    This is the canonical "pick one representative per duplicate cluster"
    step downstream of MinHash / SimHash / embedding-cosine pair finding.

    Iterative min-label propagation: each round every node takes the min of
    its own label and its neighbors' labels (one join + one groupBy per
    round, both keyed on node id), converging in graph-diameter rounds —
    near-dup graphs are union-of-cliques-ish, so typically 1-3. Lineage is
    truncated per round (localCheckpoint) so the plan doesn't grow
    exponentially; the loop is driver-coordinated but each round is a fully
    distributed job (the classic Pregel-style CC, public algorithm).
    Stops early when a round changes no labels.

    ``algorithm``: 'label' = min-label only; 'star' = delegate to
    :func:`connected_components_star` (O(log) rounds on any diameter);
    'auto' (default) = run min-label for a few rounds — optimal for the
    clique-ish graphs near-dup mining produces — and hand unconverged
    (high-diameter) graphs to the star algorithm instead of grinding
    diameter rounds."""
    if algorithm == "star":
        return connected_components_star(pairs, id_a, id_b)
    # 'label' gets one idle round beyond max_iter: a fixed point reached in
    # round max_iter is only confirmed by a round that changes nothing
    rounds = min(4, max_iter) if algorithm == "auto" else max_iter + 1
    edges = (
        pairs.select(F.col(id_a).alias("s"), F.col(id_b).alias("d"))
        .unionByName(pairs.select(F.col(id_b).alias("s"), F.col(id_a).alias("d")))
        .distinct()
    )
    labels = (
        edges.select(F.col("s").alias("id"))
        .distinct()
        .withColumn("lbl", F.col("id"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(rounds):
        nbr = (
            edges.withColumnRenamed("s", "id")
            .join(labels, "id")
            .groupBy(F.col("d").alias("id"))
            .agg(F.min("lbl").alias("nlbl"))
        )
        new_labels = (
            labels.join(nbr, "id", "left")
            .select(
                "id",
                F.least(F.col("lbl"), F.coalesce("nlbl", F.col("lbl"))).alias(
                    "new_lbl"
                ),
                F.col("lbl").alias("old_lbl"),
            )
            .localCheckpoint()
        )
        changed = new_labels.where(F.col("new_lbl") != F.col("old_lbl")).count()
        labels = new_labels.select("id", F.col("new_lbl").alias("lbl"))
        if changed == 0:
            converged = True
            break
    if not converged and algorithm == "auto":
        # high-diameter graph: min-label would need diameter rounds —
        # restart with the star algorithm (O(log) rounds regardless)
        return connected_components_star(pairs, id_a, id_b)
    if not converged:
        # opt-in 'label' mode exhausted max_iter without a fixed point:
        # the labels are possibly-partial components (a high-diameter
        # graph mid-propagation). Returning them silently was the ADVICE
        # r5 footgun — fail loudly instead; callers who want best-effort
        # labels can raise max_iter or use algorithm='auto'/'star'.
        raise RuntimeError(
            f"connected_components(algorithm='label') did not converge in "
            f"{max_iter} rounds; labels would be partial. Use "
            f"algorithm='auto'/'star' or raise max_iter."
        )
    return labels.select("id", F.col("lbl").alias("component"))
