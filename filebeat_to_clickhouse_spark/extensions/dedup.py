"""Deduplication operators: exact, MinHash+LSH near-dup, n-gram Jaccard.

Scale design (100 TB):
- Exact dedup is a hash-groupBy on a 128-bit fingerprint — one shuffle on
  uniformly distributed keys, map-side combinable.
- Near-dup avoids the O(n²) cross join entirely: MinHash signatures are
  computed per document (narrow), banded, and only documents sharing a band
  bucket are pair-joined (the LSH candidate join shuffles on band hash —
  uniformly distributed, skew-free). Verification runs only on candidates.
- All hashing is md5 (JVM built-in, codegen'd) so no Python crosses the
  row path, and results are portable across engines for oracle checks.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, Window

from ..checkpointing import default_checkpoint_dir as _default_ckpt_dir
from ..checkpointing import make_lineage_cut as _make_lineage_cut

# MinHash parameters: K hashes in B bands of R rows (K = B*R).
# With R=3, B=4 the LSH collision curve crosses ~50% at J≈0.5 — tuned for
# the "verified pairs at J≥0.5" contract below.
MINHASH_K = 12
MINHASH_BAND_ROWS = 3

# Universal-hash permutations over the 40-bit shingle-hash domain:
# h_i(x) = (a_i*x + b_i) mod 2^40, with a_i < 2^20 odd so a_i*x < 2^60
# never overflows signed 64-bit (ANSI-safe in Spark, exact in any engine).
HASH_BITS = 40
HASH_MOD = 1 << HASH_BITS
MINHASH_PARAMS: tuple[tuple[int, int], ...] = (
    (999983, 17),
    (754973, 97578),
    (414977, 195139),
    (217645, 292700),
    (104729, 390261),
    (654435, 487822),
    (823117, 585383),
    (186107, 682944),
    (562435, 780505),
    (920419, 878066),
    (331999, 975627),
    (777767, 1073188),
)


def exact_dedup_fingerprints(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: group by md5(text) → (fingerprint, keeper id, copy count).

    The groupBy key is the 128-bit digest, not the text itself, so the
    shuffle moves 32-byte keys instead of documents.
    """
    return (
        docs.select(F.md5(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def exact_dedup_survivors(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup keeping the lowest-id copy of each distinct text.

    Expressed as a min-id aggregation + semi join rather than a global
    window (a window over the full table would single-partition nothing here,
    but min-per-key + join keeps every stage map-side combinable).
    """
    keepers = (
        docs.select(F.md5(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
    )
    return docs.join(keepers.select(id_col), on=id_col, how="semi")


def _token_hash40(tok):
    """40-bit integer hash of a token: first 10 hex chars of md5, exact in
    any engine (fits signed 64-bit with headroom for the arithmetic below)."""
    return F.conv(F.substring(F.md5(tok), 1, 10), 16, 10).cast("bigint")


def word_shingles(docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Distinct word n-gram shingle HASHES per document → (id, shingle) rows.

    Each token is md5-hashed once to a 40-bit int; an n-gram's hash is the
    base-31 combination of its token hashes mod 2^40. One hash per token
    occurrence (not per gram × permutation), no gram-string materialization
    — the dominant dedup cost at scale is exactly this inner loop.

    The token-hash array is materialized as its own projection BELOW the
    explode: HOF lambdas get no common-subexpression elimination, so
    referencing the transform(...) expression directly from the gram lambda
    would re-hash the whole document once per element_at (~160× redundant
    work for n=3; measured 27× wall-clock at sf0.1).
    """
    toks = F.split(F.col(text_col), " ")
    hashed = docs.select(F.col(id_col), F.transform(toks, _token_hash40).alias("_ht"))
    ht = F.col("_ht")

    def gram(i):
        acc = F.element_at(ht, i + 1)
        for j in range(1, n):
            acc = (acc * 31 + F.element_at(ht, i + 1 + j)) % F.lit(HASH_MOD)
        return acc

    grams = F.when(
        F.size(ht) >= n,
        F.transform(F.sequence(F.lit(0), F.size(ht) - n), gram),
    ).otherwise(F.array().cast("array<bigint>"))
    return hashed.select(F.col(id_col), F.explode(F.array_distinct(grams)).alias("shingle"))


def minhash_signatures(shingled: DataFrame, k: int = MINHASH_K, id_col: str = "doc_id") -> DataFrame:
    """Wide signature table (id, mh0..mh{k-1}) — K universal-hash
    permutations of the shingle hash, min per permutation.

    One groupBy with K min-aggregates — no K-fold row explosion, fully
    map-side combinable, a single shuffle of K×8 bytes per document
    regardless of document size.
    """
    mins = [
        F.min((F.col("shingle") * a + b) % F.lit(HASH_MOD)).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_PARAMS[:k])
    ]
    return shingled.groupBy(id_col).agg(*mins)


def band_keys_expr(band_rows: int = MINHASH_BAND_ROWS, k: int = MINHASH_K):
    """Array of the B band-key strings built from mh0..mh{k-1} columns —
    THE band/bucket key format. Every banding site (batch self-join,
    incremental store, streaming flagger) derives from this ONE expression
    so the equi-join keys cannot drift apart (drift would degrade LSH to
    'no candidates found' with no error)."""
    return F.array(*[
        F.concat_ws(
            ",", *[F.col(f"mh{i}").cast("string") for i in range(b * band_rows, (b + 1) * band_rows)]
        )
        for b in range(k // band_rows)
    ])


def signature_agreement(
    k: int = MINHASH_K, left_fmt: str = "_b{}", right_fmt: str = "_s{}"
):
    """Count of agreeing minhash components between two signature column
    sets — n_agree/k is the unbiased MinHash Jaccard estimator. Shared by
    the batch and streaming incremental near-dup paths."""
    return sum(
        (F.col(left_fmt.format(i)) == F.col(right_fmt.format(i))).cast("int") for i in range(k)
    ).cast("bigint")


def lsh_band_buckets(
    signatures: DataFrame,
    band_rows: int = MINHASH_BAND_ROWS,
    k: int = MINHASH_K,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, band, bucket) — each band's minhashes joined into a key string.
    Pure projection + posexplode of B values, no shuffle."""
    return signatures.select(
        F.col(id_col),
        F.posexplode(band_keys_expr(band_rows=band_rows, k=k)).alias("band", "bucket"),
    )


def lsh_candidate_pairs(
    buckets: DataFrame, id_col: str = "doc_id", max_bucket_size: int | None = None
) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing any band bucket.

    This is the join that replaces the O(n²) cross join: equi-join on
    (band, bucket), whose key space is uniform md5 — no skew at any scale
    for *distinct* content. Boilerplate-heavy corpora are the exception:
    near-identical documents legitimately share buckets, and one bucket of
    B docs emits B²/2 pairs. ``max_bucket_size`` drops buckets above the
    cap before the self-join (the standard frequency-capping guard —
    documents this common are better handled by exact dedup first);
    None keeps exact LSH semantics.
    """
    if max_bucket_size is not None:
        sizes = buckets.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("_n"))
        keep = sizes.filter(F.col("_n") <= max_bucket_size).select("band", "bucket")
        buckets = buckets.join(keep, ["band", "bucket"], "semi")
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bucket") == F.col("b.bucket")))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )


def shingle_jaccard(pairs: DataFrame, shingled: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs → (doc_a, doc_b, jaccard)."""
    sizes = shingled.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    ex_a = shingled.select(F.col(id_col).alias("doc_a"), F.col("shingle"))
    ex_b = shingled.select(F.col(id_col).alias("doc_b"), F.col("shingle"))
    inter = (
        pairs.join(ex_a, "doc_a")
        .join(ex_b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed(id_col, "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed(id_col, "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("n_inter") * F.lit(1.0) / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))).alias("jaccard"),
        )
    )


def minhash_lsh_neardup_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    shingle_n: int = 3,
    k: int = MINHASH_K,
    band_rows: int = MINHASH_BAND_ROWS,
) -> DataFrame:
    """Full near-dup pipeline: shingle → minhash → LSH bands → candidate
    pairs → exact-Jaccard verification at ``threshold``.

    Returns (doc_a, doc_b, jaccard) for verified near-duplicates.

    Verification re-shingles ONLY candidate documents (semi-join on the
    candidate id set): at scale the candidate set is orders of magnitude
    smaller than the corpus, so the exact-Jaccard pass never touches the
    full shingle table a second time.

    The candidate pair table and the candidate shingle table are
    materialized (localCheckpoint): each is consumed by several downstream
    joins, and without a cut Spark re-derives the whole shingle→minhash→
    band self-join per consumer (measured 22 scans / 63 exchanges in one
    plan). Materializing candidates is what any at-scale LSH pipeline does
    — they are the small intermediate by construction.

    Signatures use the exploded groupBy form, NOT rowwise_minhash: the
    K permuted mins run inside a codegen'd HashAggregate there, where the
    row-wise array_min-over-transform is interpreted HOF evaluation —
    measured 30× slower over a corpus (rowwise_minhash's docstring has the
    full trade-off; it exists for the streaming path, where aggregation
    state is not an option).
    """
    id_col = "doc_id"
    sh = word_shingles(docs, n=shingle_n)
    cands = lsh_candidate_pairs(
        lsh_band_buckets(minhash_signatures(sh, k=k), band_rows=band_rows, k=k)
    ).localCheckpoint(eager=False)
    cand_ids = cands.select(
        F.explode(F.array("doc_a", "doc_b")).alias(id_col)
    ).distinct()
    sh_cand = word_shingles(docs.join(cand_ids, id_col, "semi"), n=shingle_n).localCheckpoint(
        eager=False
    )
    return shingle_jaccard(cands, sh_cand).filter(F.col("jaccard") >= threshold)


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over an undirected pair graph → (node, component),
    where ``component`` is the minimum node id in each component.

    This is the cluster-formation step of a dedup pipeline: near-dup PAIRS
    (from MinHash/SimHash/cosine LSH) become dedup GROUPS, from which one
    survivor per group is kept. Pairs alone under-deduplicate — if A~B and
    B~C but A≁C, pairwise removal keeps two of the three.

    Algorithm: min-label propagation. Every node starts labeled with its own
    id; each round every node takes the min of its own label and its
    neighbors' labels; converges in O(graph diameter) rounds. Each round is
    one shuffle join (edges × labels on the node key) plus a min-aggregate —
    both map-side combinable, keys are document ids (uniform). Near-dup
    graphs are overwhelmingly small star-shaped clusters, so the diameter —
    and the round count — is small in practice.

    Lineage is cut per round: iterative plans otherwise double in depth
    each round and the optimizer re-derives every prior round per action.
    ``checkpoint_dir=None`` (the local default) uses ``localCheckpoint`` —
    blocks live on executors, so an executor loss kills the job. On a real
    cluster pass ``checkpoint_dir`` (an HDFS/S3 path): rounds then cut
    lineage with reliable ``checkpoint()``, which survives executor loss —
    the 100 TB fault-tolerance setting. (The alternating large-star/
    small-star rounds of Kiveris et al., MR'14, converge in O(log² n) for
    adversarial chain graphs if diameter ever becomes the bottleneck.)

    Convergence is detected with a per-round changed-count; the fixpoint
    (min id per component) is unique, so the round count never affects the
    result. Exhausting ``max_iter`` with labels still changing raises
    RuntimeError — a graph with diameter > max_iter would otherwise return
    silently WRONG (split) clusters. Nodes appearing in no edge are absent
    — callers union singletons back in (see ``neardup_clusters`` in
    queries.py).
    """
    if max_iter < 1:
        raise ValueError(
            f"max_iter must be >= 1, got {max_iter} — zero rounds would return "
            "every node as its own component (silently split clusters)"
        )
    cut = _make_lineage_cut(checkpoint_dir)
    und = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    und = cut(und.union(und.select(F.col("v").alias("u"), F.col("u").alias("v"))), eager=False)
    labels = und.select(F.col("u").alias("node")).distinct().withColumn("lbl", F.col("node"))
    changed = 0
    for _ in range(max_iter):
        nbr_min = (
            und.join(labels.withColumnRenamed("node", "u"), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.min("lbl").alias("nbr_min"))
        )
        # Convergence detection rides the SAME job that materializes the
        # round (r11): a CollectMetrics observation below the eager cut is
        # populated by the cut's own execution, so each round is ONE job —
        # the previous separate `filter(_chg).limit(1).count()` doubled the
        # per-round job count, and with small near-dup graphs (diameter ≈ 2
        # to 4) the round loop is per-job-overhead-bound, not data-bound
        # (CURDECOMP_r11: the components stage of corpus_curation_pipeline
        # ≈ the session's job floor × rounds × 2). The changed flag is
        # computed in the same projection as before; only WHERE it is
        # counted moved.
        obs = Observation()
        staged = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce("nbr_min", "lbl")).alias("lbl"),
                F.coalesce(F.col("nbr_min") < F.col("lbl"), F.lit(False)).alias("_chg"),
            )
            .observe(obs, F.sum(F.col("_chg").cast("long")).alias("n_chg"))
        )
        new_labels = cut(staged, eager=True)
        # n_chg is a zero/nonzero convergence signal, not a count of changed rows
        # (a reliable checkpoint can recompute the round and count it twice)
        changed = int(obs.get["n_chg"] or 0)
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} rounds; "
            "the graph diameter exceeds the round budget — raise max_iter "
            "(labels would be silently split otherwise)"
        )
    return labels.select("node", F.col("lbl").alias("component"))


def _observe_cap_drops(agg: DataFrame, hot_cond, what: str) -> DataFrame:
    """Attach a fire-once INFO log to a cap's df-aggregate reporting
    whether the frequency cap ACTUALLY filtered anything (r7 advice):
    capped operators silently compute over the rare-key sub-universe,
    and an operator that quietly dropped half its index reads as "covered
    everything" — the log makes the cut observable without a second job.

    The count rides the executing plan as a CollectMetrics node (no extra
    scan, no action); a daemon thread waits on the observation and logs
    once when >0 keys were dropped. Best-effort by design: if the frame
    is never executed the thread parks forever (daemon — dies with the
    process), and any observation failure leaves the operator untouched."""
    try:
        import threading

        obs = Observation()
        out = agg.observe(
            obs,
            F.sum(hot_cond.cast("long")).alias("n_dropped"),
            F.count(F.lit(1)).alias("n_keys"),
        )

        def _log() -> None:
            try:
                got = obs.get  # blocks until the plan's first execution
                if got.get("n_dropped"):
                    import logging

                    logging.getLogger(__name__).info(
                        "%s: frequency cap dropped %d of %d index keys — "
                        "similarity is computed over the rare-key sub-universe "
                        "(use the _exact_uncapped form for exact semantics)",
                        what,
                        got["n_dropped"],
                        got["n_keys"],
                    )
            except Exception:  # pragma: no cover - logging must never throw
                pass

        threading.Thread(target=_log, daemon=True, name=f"cap-log-{what}").start()
        return out
    except Exception:  # pragma: no cover - observation is strictly optional
        return agg


def _df_capped_shingles(
    docs: DataFrame,
    shingle_n: int,
    max_df: int | None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The df-capped shingle index — ``word_shingles`` minus every shingle
    whose document frequency exceeds ``max_df`` (a semi join on the
    uniform shingle key after one map-side-combinable df aggregate).
    Split out so the plan gate can assert the guard is structural
    (``ngram_jaccard_pairs`` checkpoints the result, which truncates the
    visible plan)."""
    sh = word_shingles(docs, n=shingle_n, text_col=text_col, id_col=id_col)
    if max_df is not None:
        dfs = _observe_cap_drops(
            sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df")),
            F.col("_df") > max_df,
            f"ngram_jaccard df-cap({max_df})",
        )
        rare = dfs.filter(F.col("_df") <= max_df).select("shingle")
        sh = sh.join(rare, "shingle", "semi")
    return sh


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_df: int | None = 100,
) -> DataFrame:
    """All-pairs n-gram Jaccard ≥ threshold via inverted-index join, with a
    DOCUMENT-FREQUENCY CAP on by default (``max_df``).

    The inverted-index self-join is quadratic in per-shingle document
    frequency — a shingle shared by f documents emits f²/2 joined rows —
    so on low-entropy corpora (boilerplate, tiny vocabularies) candidate
    volume explodes regardless of how few pairs pass the threshold: the
    uncapped form timed out the 240 s sf10 growth cap. The guard drops
    shingles with df > ``max_df`` from BOTH the index and the per-doc
    sizes before the join, bounding candidate rows by
    max_df × surviving postings; a shingle in >``max_df`` documents
    carries no pairwise near-dup signal anyway (every common-boilerplate
    treatment — CountVectorizer's maxDF, Lucene's stopword lists — makes
    the same cut). Jaccard is therefore computed over the rare-shingle
    sub-universe: pairs similar ONLY through ubiquitous shingles drop
    out, by design. Documents whose shingles are all hot vanish from the
    output (no rare evidence to weigh).

    ``max_df=None`` restores the uncapped exact form — reachable as
    ``ngram_jaccard_pairs_exact_uncapped`` — quadratic on adversarial
    data; prefer ``ngram_jaccard_pairs_prefix`` (high thresholds, skewed
    df) or minhash_lsh_neardup_pairs (≥10⁷ docs) before reaching for it.

    The shingle table feeds three consumers (both join sides + sizes), so
    it is materialized once instead of re-hashed per consumer; the df cap
    itself is one uniform-key aggregate + a semi join on the same key.
    """
    sh = _df_capped_shingles(docs, shingle_n, max_df, text_col="text", id_col="doc_id")
    sh = sh.localCheckpoint(eager=False)
    ex_a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    ex_b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    pairs = (
        ex_a.join(ex_b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    return _jaccard_from_inter(pairs, sizes, threshold)


def ngram_jaccard_pairs_exact_uncapped(
    docs: DataFrame, threshold: float = 0.5, shingle_n: int = 3
) -> DataFrame:
    """The UNCAPPED exact inverted-index Jaccard join — the legacy form of
    ``ngram_jaccard_pairs`` before the ``max_df`` guard became the default.

    Exact over the full shingle universe, but candidate volume is Σdf²/2:
    quadratic in per-shingle document frequency, a measured sf10 growth-
    check timeout on low-entropy data. Reach for this name only when the
    corpus is known small or shingle df is known bounded; otherwise use
    the capped default, the prefix-filtered variant, or MinHash-LSH."""
    return ngram_jaccard_pairs(docs, threshold=threshold, shingle_n=shingle_n, max_df=None)


def _jaccard_from_inter(pairs: DataFrame, sizes: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, n_inter) + per-doc shingle sizes → thresholded
    (doc_a, doc_b, jaccard) — the shared tail of the exact Jaccard
    variants."""
    return (
        pairs.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("n_inter") * F.lit(1.0) / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs_prefix(
    docs: DataFrame, threshold: float = 0.5, shingle_n: int = 3
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard ≥ threshold with PREFIX FILTERING —
    same output as ``ngram_jaccard_pairs``, but the candidate join only
    ever touches each document's RAREST shingles.

    The plain inverted-index join is quadratic in per-shingle document
    frequency: a shingle shared by f documents contributes f²/2 joined
    rows, so corpora whose common shingles collide at chance (small
    vocabularies, boilerplate) blow up the join regardless of how few
    pairs pass the threshold — the measured cause of the sf10
    growth-check timeout. Prefix filtering (Bayardo/Ma/Srikant 2007
    "Scaling Up All Pairs Similarity Search"; Jaccard prefix length from
    Xiao et al. 2008, PPJoin) keeps EXACTNESS: under any global total
    order on shingles, two documents with J ≥ t must share a shingle
    within their first ``|d| − ⌈t·|d|⌉ + 1`` shingles, so indexing only
    those prefixes finds every qualifying pair; the full intersection is
    then counted per candidate. Ordering by ASCENDING document frequency
    puts the hottest shingles at the END of every prefix-eligible list —
    the f² terms the plain join chokes on never enter the index.

    KNOW THE REGIME — measured, not assumed. The prefix is
    ``≈ (1−t)·|d| + 1`` shingles, so the pruning power is the product of
    a HIGH threshold (short prefixes) and a SKEWED document-frequency
    distribution (the prefix then holds genuinely rare shingles). Both
    hold for real near-dup detection (t ≥ 0.7, Zipf-ish shingle DF:
    boilerplate is hot, content is rare — the skew test pins a >50×
    candidate-row cut on such a corpus). Neither holds on the synthetic
    growth fixture (uniform ~31-word vocabulary: EVERY shingle is hot),
    and there this variant measured 264 s vs the plain join's 12.4 s at
    sf1/t=0.5 — candidate rows fell only 2.4× (1.15e8 → 4.7e7) while
    the per-candidate verification re-exploded them. So: plain form for
    low thresholds or unknown DF, THIS form for high-threshold near-dup
    over skewed corpora, minhash_lsh_neardup_pairs when even exact
    verification is too hot (chance-dominated similarity stays LSH's
    regime).

    Scale mechanics: doc-frequency is one uniform-key aggregate; the
    per-doc rank is a window over each document's own shingles (rows
    per partition = shingles per doc, never the corpus); the candidate
    join keys on low-frequency shingles by construction; verification
    explodes each candidate pair by one document's shingle list —
    linear in true candidates."""
    sh = word_shingles(docs, n=shingle_n).localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    doc_freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    ranked = (
        sh.join(doc_freq, "shingle")
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("_df", "shingle")
            ),
        )
        .join(sizes, "doc_id")
    )
    # prefix length |d| − ⌈t·|d|⌉ + 1; the epsilon guards the float
    # product landing a hair ABOVE an exact integer (a longer prefix is
    # always safe — more candidates, never a missed pair)
    pref = ranked.filter(
        F.col("_rk")
        <= F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(1e-9)) + 1
    ).select("doc_id", "shingle")
    cand = (
        pref.select(F.col("doc_id").alias("doc_a"), "shingle")
        .join(pref.select(F.col("doc_id").alias("doc_b"), "shingle"), "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "shingle"), ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return _jaccard_from_inter(inter, sizes, threshold)


# Eval-side rows (one shingle hash + optionally an id, ≤ ~50 bytes/row)
# safe to broadcast: 4M rows ≈ low hundreds of MB driver+executor copies,
# comfortably inside a multi-GiB heap. The r5 growth check measured the
# failure mode past it: a corpus-scaled "eval" side OOM'd an 8 GiB heap.
BROADCAST_EVAL_MAX_ROWS = 4_000_000

# The PAIRS variant gets a tighter cap: unlike ``decontaminate`` (eval
# collapsed to a distinct-shingle SET, hits collapsed per train doc), it
# keeps eval ids in the broadcast relation AND feeds a (train, eval)
# pair-cardinality hash aggregate from the join output — the broadcast
# and the aggregate peak in the SAME heap. The r8 sf10 growth run OOM'd
# an 8 GiB JVM with the eval side at 1.30M rows, comfortably UNDER the
# generic 4M cap — so past 1M rows the pairs path degrades to the
# sort-merge join, slow-but-bounded (spillable at every operator).
BROADCAST_EVAL_PAIRS_MAX_ROWS = 1_000_000


def _eval_join_hint(
    ev: DataFrame, broadcast_eval: bool | None, max_rows: int, what: str = "decontaminate eval side"
):
    """Resolve the small-side join strategy → (possibly-checkpointed ev,
    hint fn). ``broadcast_eval=None`` AUTO-SIZES: one count over the
    (eval-sized, never corpus-sized) frame decides broadcast vs shuffle,
    instead of trusting the caller's premise and OOM-ing when an "eval
    registry" turns out corpus-scaled. The decision is logged. Explicit
    True/False skips the count and keeps the old contract.

    The no-broadcast path carries a MERGE hint, not merely the absence
    of F.broadcast: leaving the strategy to the planner re-opens the
    exact failure the sizer exists to prevent — AQE's
    autoBroadcastJoinThreshold saw the oversized eval side's (under-)
    estimated stats, rebuilt it as a LongHashedRelation anyway, and
    OOM'd the r6 sf10 growth run mid-registry (stage-6920 heap
    exhaustion, caught by measurement). Sort-merge is the memory-safe
    strategy for a side that was explicitly judged too big to hash.

    COST DISCLOSURE (r6/r7 advice): auto-sizing runs one Spark count job
    at DataFrame-CONSTRUCTION time (not at action time). It is memoized
    on the eval DataFrame object, so passing the SAME ``eval_docs``
    frame to decontaminate/_pairs/_semantic in a loop counts once; a
    frame rebuilt per call re-counts. Callers who know their eval side
    pass explicit ``broadcast_eval=True/False`` and skip the job
    entirely."""
    if broadcast_eval is None:
        memo = getattr(ev, "_fbck_eval_sized", None)
        if memo is None:
            cut = ev.localCheckpoint(eager=False)  # count + join read it once
            memo = (cut, cut.count())
            # memoize on the CALLER's frame: repeated decontaminate calls
            # over the same eval registry size it once, not per call
            ev._fbck_eval_sized = memo
        ev, n = memo
        broadcast_eval = n <= max_rows
        import logging

        logging.getLogger(__name__).info(
            "%s: %d rows -> %s join (cap %d)",
            what,
            n,
            "broadcast" if broadcast_eval else "sort-merge",
            max_rows,
        )
    return ev, (F.broadcast if broadcast_eval else (lambda d: d.hint("merge")))


def decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_eval: bool | None = None,
) -> DataFrame:
    """Eval-set decontamination: per training document, the count of
    distinct word n-gram shingles it shares with ANY evaluation document
    → (id, n_shared_grams) for contaminated docs only.

    A pretraining corpus must be scrubbed of text overlapping the
    evaluation benchmarks, or reported eval wins are leakage. The standard
    check (n-gram collision against the eval set) is an inverted-index
    semi-join, and its scale asymmetry is the whole design: benchmarks are
    megabytes while the corpus is terabytes, so the eval side's distinct
    shingle set broadcasts and the corpus is scanned ONCE, narrow, with no
    shuffle besides the per-doc count aggregation of the (rare) hits.

    ``broadcast_eval=None`` (default) SIZE-CHECKS the eval side first —
    one count over the eval shingles (never the corpus) — and flips to a
    shuffle join on the uniform shingle key past
    ``BROADCAST_EVAL_MAX_ROWS``, logging the decision: the premise
    "benchmarks are megabytes" is the caller's claim, and when it is
    wrong (a corpus-scaled registry — the r5 sf10 fixture) trusting it
    costs an executor OOM, not a slow query. Explicit True/False skips
    the check and forces the strategy.

    Reference scope note: the reference (main.go) ships logs to ClickHouse
    and has no dedup surface; this operator belongs to the LLM-pipeline
    extension family mandated alongside SURVEY §2.
    """
    tr = word_shingles(train, n=n, text_col=text_col, id_col=id_col)
    ev = (
        word_shingles(eval_docs, n=n, text_col=text_col, id_col=id_col)
        .select("shingle")
        .distinct()
    )
    ev, hint = _eval_join_hint(ev, broadcast_eval, BROADCAST_EVAL_MAX_ROWS)
    return (
        tr.join(hint(ev), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def rowwise_minhash(
    docs: DataFrame,
    k: int = MINHASH_K,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(id, mh0..mh{k-1}) computed entirely PER ROW — array_min over the
    permuted shingle-hash array, ZERO shuffle, byte-identical to the
    exploded groupBy form (asserted in tests). Documents with no shingles
    (< n tokens) are dropped, matching the exploded form.

    Use this for STREAMS, not batch corpora: being a pure projection it
    needs no watermark aggregation state — the property the streaming
    near-dup flagger requires — but the K min-scans are interpreted
    higher-order functions, measured ~30× slower per document than
    minhash_signatures' codegen'd HashAggregate. Micro-batches are small
    enough not to care; a 100 TB batch corpus is not.

    The token-hash array and the shingle array are each bound as their
    own projection before any lambda references them (no CSE inside HOF
    lambdas — see word_shingles; an inlined form re-hashes the document
    per element access)."""
    n = shingle_n
    keep_cols = [F.col(c) for c in keep]
    toks = F.split(F.col(text_col), " ")
    hashed = docs.select(F.col(id_col), *keep_cols, F.transform(toks, _token_hash40).alias("_ht"))
    ht = F.col("_ht")

    def gram(i):
        acc = F.element_at(ht, i + 1)
        for j in range(1, n):
            acc = (acc * 31 + F.element_at(ht, i + 1 + j)) % F.lit(HASH_MOD)
        return acc

    grams = F.when(
        F.size(ht) >= n,
        F.array_distinct(F.transform(F.sequence(F.lit(0), F.size(ht) - n), gram)),
    ).otherwise(F.array().cast("array<bigint>"))
    shingled = hashed.select(F.col(id_col), *keep_cols, grams.alias("_sh"))

    def perm(a: int, b: int):
        # closure factory, NOT default-arg capture: pyspark counts a
        # lambda's parameters to pick the HOF arity, so defaults break it
        return lambda s: (s * a + b) % F.lit(HASH_MOD)

    mins = [
        F.array_min(F.transform(F.col("_sh"), perm(a, b))).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_PARAMS[:k])
    ]
    return shingled.filter(F.size("_sh") > 0).select(F.col(id_col), *keep_cols, *mins)


def minhash_signature_store(
    docs: DataFrame, shingle_n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The persisted state for incremental NEAR-dup: (id, mh0..mh{K-1}) —
    K×8 bytes per historical document, no text, no shingles. Computed once
    per delivery and appended; at 100 TB this is the only near-dup state
    that needs to live between deliveries (compare incremental_dedup's
    digest store for the exact-dup analog). Built with the codegen'd
    groupBy form — see rowwise_minhash's docstring for why the zero-
    shuffle variant loses on batch corpora."""
    return minhash_signatures(
        word_shingles(docs, n=shingle_n, text_col=text_col, id_col=id_col), id_col=id_col
    )


def incremental_neardup(
    batch_sigs: DataFrame,
    store_sigs: DataFrame,
    min_agree: int = 6,
    k: int = MINHASH_K,
    band_rows: int = MINHASH_BAND_ROWS,
    id_col: str = "doc_id",
    broadcast_batch: bool = True,
) -> DataFrame:
    """Near-dup matches of an incoming batch against the signature store →
    (batch_doc, store_doc, n_agree, est_jaccard) where ``n_agree`` of the
    K minhashes coincide (``min_agree``/K ≈ the Jaccard threshold — the
    textbook unbiased MinHash estimator, E[agree/K] = J).

    The production shape of near-dedup, batch-vs-corpus: candidates come
    from LSH band-bucket collisions BETWEEN the batch and the store, and
    verification is signature agreement — the stored text is never
    re-read, never re-shingled, never shuffled. Per delivery the store
    side does one narrow banding pass over K×8-byte rows; the batch side
    (a delivery, orders of magnitude smaller than the corpus) broadcasts
    into the bucket join by default (``broadcast_batch=False`` falls back
    to a shuffle join for giant backfills, the call-site-flag pattern of
    ``decontaminate``). Exact-Jaccard re-verification of the (rare)
    matches, where wanted, re-shingles only those documents — a
    candidate-sized lookup, as in minhash_lsh_neardup_pairs.
    """
    hint = F.broadcast if broadcast_batch else (lambda d: d)
    bb = lsh_band_buckets(batch_sigs, band_rows=band_rows, k=k, id_col=id_col).select(
        F.col(id_col).alias("batch_doc"), "band", "bucket"
    )
    sb = lsh_band_buckets(store_sigs, band_rows=band_rows, k=k, id_col=id_col).select(
        F.col(id_col).alias("store_doc"), "band", "bucket"
    )
    cands = sb.join(hint(bb), ["band", "bucket"]).select("batch_doc", "store_doc").distinct()
    b = batch_sigs.select(
        F.col(id_col).alias("batch_doc"), *[F.col(f"mh{i}").alias(f"_b{i}") for i in range(k)]
    )
    s = store_sigs.select(
        F.col(id_col).alias("store_doc"), *[F.col(f"mh{i}").alias(f"_s{i}") for i in range(k)]
    )
    n_agree = signature_agreement(k)
    return (
        cands.join(hint(b), "batch_doc")
        .join(s, "store_doc")
        .select(
            "batch_doc",
            "store_doc",
            n_agree.alias("n_agree"),
            (n_agree * F.lit(1.0) / k).alias("est_jaccard"),
        )
        .filter(F.col("n_agree") >= min_agree)
    )


def decontaminate_pairs(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 3,
    min_shared: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_eval: bool | None = None,
) -> DataFrame:
    """Decontamination FORENSICS: (train doc, eval doc, n_shared_grams,
    frac_of_train) — which benchmark document leaked into which training
    document, and how much of the training document it covers.

    ``decontaminate`` answers "is this train doc contaminated by ANY eval
    text" (the scrubbing gate); this pairs variant answers the follow-up a
    leak investigation needs — WHICH benchmark, and was it a quote
    (small frac) or a wholesale copy (frac → 1). Same broadcast
    inverted-index shape: the eval side keeps its doc id instead of
    collapsing to a set, so output grows with actual overlap, bounded by
    ``min_shared`` (pairs sharing fewer distinct n-grams are noise at any
    realistic vocabulary). frac_of_train divides two exact counts.

    Memory contract (measured the hard way in the r5 sf10 growth check):
    the broadcast is sized by the EVAL side's (shingle, eval_doc) rows —
    fine for the design premise (a fixed megabyte-scale benchmark
    registry against a terabyte corpus), but a caller whose "eval" set is
    a FRACTION of the corpus (as the registered fixture's 5% hash-split
    is) grows the broadcast ∝ corpus; the r5 growth check OOM'd an 8 GiB
    heap exactly this way. ``broadcast_eval=None`` (default) therefore
    SIZE-CHECKS the eval shingle rows (one eval-sized count, never the
    corpus) and auto-flips to a shuffle join on the uniform shingle key
    past the cap, logging the decision; explicit True/False forces the
    strategy as before.

    The cap here is ``BROADCAST_EVAL_PAIRS_MAX_ROWS`` (1M), 4× tighter
    than ``decontaminate``'s: this variant's broadcast keeps eval doc ids
    (bigger rows, more distinct keys) and the downstream (train, eval)
    pair aggregate peaks in the same heap — the r8 sf10 growth run OOM'd
    an 8 GiB JVM with the eval side at 1.30M rows, UNDER the generic 4M
    cap. Past the cap the join is a sort-merge on the uniform shingle
    key: every operator in that plan spills, so the premise-violating
    regime (eval ∝ corpus) is slow-but-bounded instead of heap-edge
    (sf10: completes via SMJ, r9 measurement in SURVEY §18).
    """
    tr = word_shingles(train, n=n, text_col=text_col, id_col=id_col)
    ev = word_shingles(eval_docs, n=n, text_col=text_col, id_col=id_col).select(
        F.col(id_col).alias("eval_doc"), "shingle"
    )
    sizes = tr.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n_sh"))
    ev, hint = _eval_join_hint(
        ev, broadcast_eval, BROADCAST_EVAL_PAIRS_MAX_ROWS, what="decontaminate-pairs eval side"
    )
    hits = (
        tr.join(hint(ev), "shingle")
        .groupBy(id_col, "eval_doc")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
        .filter(F.col("n_shared_grams") >= min_shared)
    )
    return hits.join(sizes, id_col).select(
        id_col,
        "eval_doc",
        "n_shared_grams",
        (F.col("n_shared_grams") * F.lit(1.0) / F.col("_n_sh")).alias("frac_of_train"),
    )


def ngram_novelty(
    docs: DataFrame,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-document n-gram NOVELTY under the corpus's id order →
    (id, n_shingles, n_novel, novelty_ppm): how many of a document's
    distinct shingles appear in NO earlier document (min doc id owns the
    shingle), as an exact parts-per-million fraction.

    The curriculum/data-pruning signal behind "novel token fraction":
    boilerplate-heavy or duplicated documents score near 0 (everything
    they say has been said by an earlier id), genuinely fresh content
    scores near the full scale. Deterministic given the id order —
    arrival order in an ingest pipeline, so the score is exactly "what
    did this delivery add".

    Scale: two aggregates on the UNIFORM shingle/id keys and nothing
    else — ownership is one map-side-combinable min per shingle, the
    per-doc rollup keys on the id; no self-join, no window over corpus
    rows, no candidate blowup on low-entropy data (a hot shingle is one
    aggregate row regardless of df). Documents with < n tokens have no
    shingles and are absent, like every shingle consumer. The fraction
    is integer fixed-point (scale × novel div total) so both engines
    agree bit-for-bit."""
    sh = word_shingles(docs, n=shingle_n, text_col=text_col, id_col=id_col)
    owner = sh.groupBy("shingle").agg(F.min(id_col).alias("_owner"))
    return (
        sh.join(owner, "shingle")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum((F.col("_owner") == F.col(id_col)).cast("bigint"))
            .cast("bigint")
            .alias("n_novel"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_novel",
            F.expr(f"(n_novel * {int(scale)}) div n_shingles").alias("novelty_ppm"),
        )
    )


def incremental_novelty(
    batch: DataFrame,
    store_shingles: DataFrame,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    scale: int = 1_000_000,
) -> DataFrame:
    """Novelty of an incoming batch against a persisted shingle store →
    (id, n_shingles, n_novel, novelty_ppm): the exact fixed-point
    fraction of each batch document's distinct shingles that the
    HISTORICAL CORPUS has never seen. The production shape of
    ``ngram_novelty`` (whose baseline is the earlier part of the same
    frame): per delivery, the corpus is never re-shingled — a shingle
    store (one 5-byte-entropy bigint row per distinct shingle ever seen)
    accumulates, and each batch anti-joins it, exactly the
    ``incremental_dedup`` digest-store pattern one level below the
    document. ``store_shingles`` needs one column named ``shingle``.

    Scale: the anti-join keys on the uniformly-hashed shingle — skew-free
    by construction — and only BATCH rows flow through it; the store side
    is scanned once, bucketable on the same key for a shuffle-free
    delivery (storage.write_bucketed_table). The store update is
    ``word_shingles(batch).select("shingle").distinct()`` appended, so
    state stays text-free. Batch docs with < n tokens have no shingles
    and are absent, like every shingle consumer."""
    sh = word_shingles(batch, n=shingle_n, text_col=text_col, id_col=id_col)
    sh = sh.localCheckpoint(eager=False)  # totals + anti-join both read it
    totals = sh.groupBy(id_col).agg(F.count(F.lit(1)).cast("bigint").alias("n_shingles"))
    novel = (
        sh.join(store_shingles.select("shingle"), "shingle", "left_anti")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_novel"))
    )
    return (
        totals.join(novel, id_col, "left")
        .select(
            id_col,
            "n_shingles",
            F.coalesce(F.col("n_novel"), F.lit(0).cast("bigint")).alias("n_novel"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_novel",
            F.expr(f"(n_novel * {int(scale)}) div n_shingles").alias("novelty_ppm"),
        )
    )


def cross_source_duplication_matrix(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-duplicate flow BETWEEN sources → (source_a, source_b,
    n_dup_pairs, n_shared_fps): for every (unordered) source pair, how
    many document pairs share an identical text fingerprint, and across
    how many distinct fingerprints. The curation report that answers
    "which sources copy from which" — mirror sites, cross-posted feeds,
    scraped aggregators — before near-dup tuning even starts; the
    diagonal (source_a = source_b) is each source's internal duplication.

    Scale design: pair counts are computed WITHOUT materializing document
    pairs. One groupBy to (fingerprint, source, cnt) — uniform 128-bit
    keys, map-side combinable — then a self-join PER FINGERPRINT whose
    group size is bounded by the number of sources carrying that
    fingerprint (≤ #sources, a constant), never by copy count: a
    fingerprint duplicated a million times in two sources is two rows
    into the join and one multiplication out (cnt_a × cnt_b; C(cnt,2) on
    the diagonal). The final rollup keys on the tiny source-pair space.
    """
    fps = docs.select(
        F.md5(F.col(text_col)).alias("fp"), F.col(source_col).alias("_src")
    ).groupBy("fp", "_src").agg(F.count(F.lit(1)).cast("bigint").alias("_cnt"))
    a = fps.select("fp", F.col("_src").alias("source_a"), F.col("_cnt").alias("_ca"))
    b = fps.select("fp", F.col("_src").alias("source_b"), F.col("_cnt").alias("_cb"))
    pairs = (
        a.join(b, "fp")
        .filter(F.col("source_a") <= F.col("source_b"))
        .select(
            "fp",
            "source_a",
            "source_b",
            F.when(
                F.col("source_a") == F.col("source_b"),
                F.expr("(_ca * (_ca - 1)) div 2"),  # integer div: exact
            )
            .otherwise(F.col("_ca") * F.col("_cb"))
            .cast("bigint")
            .alias("_npairs"),
        )
        .filter(F.col("_npairs") > 0)
    )
    return pairs.groupBy("source_a", "source_b").agg(
        F.sum("_npairs").cast("bigint").alias("n_dup_pairs"),
        F.count(F.lit(1)).cast("bigint").alias("n_shared_fps"),
    )


def incremental_dedup(
    batch: DataFrame,
    store_digests: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup an incoming batch against a persisted fingerprint store →
    (id, digest) survivors: batch docs whose md5 digest is new to BOTH the
    store and the batch (lowest id wins within the batch).

    The production shape of dedup: the corpus is not re-deduplicated from
    scratch per delivery; a digest store (one 32-byte row per historical
    doc) accumulates, and each new batch anti-joins it. Both the anti-join
    and the in-batch min-id aggregation key on the uniformly distributed
    digest, so there is no skew by construction; at 100 TB the store is a
    digest-bucketed table and the anti-join co-locates without a shuffle
    on the store side (storage.write_bucketed_table). ``store_digests``
    needs one column named ``digest``.
    """
    fp = batch.select(F.col(id_col), F.md5(F.col(text_col)).alias("digest"))
    fresh = fp.join(store_digests.select("digest"), "digest", "left_anti")
    return fresh.groupBy("digest").agg(F.min(id_col).alias(id_col)).select(id_col, "digest")


def chunk_occurrences(
    docs: DataFrame,
    chunk_words: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Explode documents into fixed ``chunk_words``-word chunks →
    (id, idx, chunk) rows; the trailing chunk keeps whatever words remain.

    The CCNet pipeline dedups at paragraph/line granularity; this corpus
    is single-line, so the unit is a fixed word window instead — same
    contract, deterministic in any engine (split on single spaces, slice,
    re-join). The split/slice/posexplode pipeline is fully narrow: no
    shuffle until a consumer aggregates.
    """
    toks = F.split(F.col(text_col), " ")
    t = docs.select(F.col(id_col), toks.alias("_t"))
    n_chunks = F.ceil(F.size("_t") / F.lit(float(chunk_words))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(F.col("_t"), i * chunk_words + 1, chunk_words), " "),
    )
    return t.select(F.col(id_col), F.posexplode(chunks).alias("idx", "chunk"))


def chunk_dedup_docs(
    docs: DataFrame,
    chunk_words: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide chunk-level exact dedup (CCNet-style line dedup): every
    repeated ``chunk_words``-word chunk keeps only its first occurrence
    (lowest (doc_id, idx)); documents are reassembled from surviving
    chunks → (doc_id, clean_text, n_chunks, n_kept).

    This removes boilerplate that whole-document dedup cannot see (shared
    headers/footers/navigation inside otherwise-distinct pages) — the
    single highest-yield cleaning pass in the CCNet/C4 lineage.

    Scale shape: chunks shuffle once on their md5 fingerprint (uniform,
    32-byte keys, map-side combinable min), the winner join keys on the
    same fingerprint, and reassembly groups by doc_id — three uniform
    shuffles, no all-pairs path, chunk text never moves except to its
    fingerprint group. Within-document repeats dedup too (idx breaks the
    tie), which is exactly Gopher's repeated-paragraph rule as a rewrite
    instead of a score.
    """
    occ = chunk_occurrences(docs, chunk_words=chunk_words, text_col=text_col, id_col=id_col)
    # packed (doc_id, idx) orders lexicographically while staying a plain
    # BIGINT min: exact for < 1e6 chunks/doc (docs are capped far below)
    occ = occ.select(
        F.col(id_col),
        "idx",
        "chunk",
        F.md5(F.col("chunk")).alias("_fp"),
        (F.col(id_col) * F.lit(1000000) + F.col("idx")).alias("_pos"),
    )
    winners = occ.groupBy("_fp").agg(F.min("_pos").alias("_keeper"))
    flagged = occ.join(winners, "_fp").withColumn("_kept", F.col("_pos") == F.col("_keeper"))
    return flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.when(F.col("_kept"), F.struct("idx", "chunk")))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.count(F.when(F.col("_kept"), F.lit(1))).alias("n_kept"),
    )


def gram_position_hashes(
    docs: DataFrame, n: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-POSITION word n-gram hashes → (id, idx, gram) rows — the
    positional sibling of ``word_shingles`` (which distinct-collapses per
    document). Same 40-bit rolling token-hash combination, same
    hash-once-per-token discipline; narrow until a consumer aggregates."""
    toks = F.split(F.col(text_col), " ")
    hashed = docs.select(F.col(id_col), F.transform(toks, _token_hash40).alias("_ht"))
    ht = F.col("_ht")

    def gram(i):
        acc = F.element_at(ht, i + 1)
        for j in range(1, n):
            acc = (acc * 31 + F.element_at(ht, i + 1 + j)) % F.lit(HASH_MOD)
        return acc

    grams = F.when(
        F.size(ht) >= n,
        F.transform(F.sequence(F.lit(0), F.size(ht) - n), gram),
    ).otherwise(F.array().cast("array<bigint>"))
    return hashed.select(F.col(id_col), F.posexplode(grams).alias("idx", "gram"))


def duplicated_span_stats(
    docs: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_dup: bool | None = None,
) -> DataFrame:
    """Exact duplicated-substring exposure per document →
    (doc_id, n_grams, n_dup, dup_frac): how many of a document's word
    n-gram POSITIONS carry a gram that occurs a second time anywhere in
    the corpus (including later in the same document).

    This is the measurement half of suffix-array substring dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): the fraction of a document's span positions that are
    verbatim repeats. Winnowing overlap samples fingerprints; this is
    exact and per-position, the number you threshold to route documents
    into span-removal.

    Scale shape: gram counts are one map-side-combinable groupBy on the
    uniform 40-bit gram hash; only grams with count > 1 survive into the
    membership side (the duplicated subset — vastly smaller than the
    gram universe on real corpora), and the per-doc hit count is a
    semi-join of positions against it on the same uniform key.
    ``broadcast_dup=None`` (default, r8) SIZE-CHECKS the duplicated set
    before broadcasting — unlike decontaminate's eval side, this side is
    DERIVED FROM THE CORPUS (repeat-sized, not benchmark-sized), so
    "small enough to broadcast" is a scale-dependent premise, not a
    caller's claim: the r8 sf10 crossover run OOM'd the driver on the
    forced broadcast that the previous run completed. The aggregate is
    lineage-cut first, so the sizing count and the join share one
    computation. Explicit True/False keeps the old forced contract.
    No text moves after tokenization; no all-pairs path.
    """
    occ = gram_position_hashes(docs, n=n, text_col=text_col, id_col=id_col)
    # occ feeds the duplicated-gram aggregate, the per-doc totals, and the
    # hit count — cut so the tokenize+gram pass over the corpus runs once
    occ = _make_lineage_cut(_default_ckpt_dir())(occ, eager=False)
    dup = (
        occ.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") > 1)
        .select("gram")
    )
    dup, hint = _eval_join_hint(
        dup, broadcast_dup, BROADCAST_EVAL_MAX_ROWS, what="span-stats duplicated-gram set"
    )
    totals = occ.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        occ.join(hint(dup), "gram", "semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_dup"))
    )
    ng = F.coalesce("n_grams", F.lit(0).cast("bigint"))
    nd = F.coalesce("n_dup", F.lit(0).cast("bigint"))
    return (
        docs.select(id_col)
        .join(totals, id_col, "left")
        .join(hits, id_col, "left")
        .select(
            id_col,
            ng.alias("n_grams"),
            nd.alias("n_dup"),
            F.when(ng > 0, nd * F.lit(1.0) / ng).alias("dup_frac"),
        )
    )


def remove_duplicated_spans(
    docs: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_dup: bool | None = None,
) -> DataFrame:
    """The removal half of substring dedup (Lee et al. 2022) →
    (doc_id, clean_text, n_words, n_removed): every word covered by a
    NON-FIRST occurrence of a corpus-duplicated n-gram is dropped, and
    documents are rebuilt from the surviving words. The first occurrence
    (min (doc_id, idx)) keeps its words, so exactly one verbatim copy of
    each repeated span survives corpus-wide — the span-granular sibling
    of ``chunk_dedup_docs`` (which needs repeats to align to chunk
    boundaries; this catches them at ANY offset).

    Scale shape: winner selection is one map-side-combinable min on the
    uniform gram hash; the winner table is then FILTERED to duplicated
    grams (count > 1 — the small side by construction: the gram universe
    is occurrence-sized, the duplicated subset is repeat-sized) BEFORE
    rejoining. ``broadcast_dup=None`` (default, r8) SIZE-CHECKS that
    filtered table before broadcasting: the duplicated-gram set GROWS
    WITH THE CORPUS (linearly on real data), so a forced broadcast is a
    deferred driver OOM — the r8 sf10 crossover run hit exactly that on
    the broadcast the previous session completed, the same
    trusted-premise failure decontaminate's sizer closed in r6. The
    winner aggregate is lineage-cut by the sizer, so the sizing count
    and the join share one computation; under the cap the occ stream
    still never shuffles for the join (the pre-r5 occ-side re-shuffle
    was the sf10 15.4× cliff), past it the join runs memory-safe
    sort-merge on the uniform gram key. Explicit True/False keeps the
    old forced contract. Only duplicated-gram occurrences fan out into
    covered positions (n rows per occurrence); the coverage distinct
    and the rebuild group by (doc_id[, widx]) — bounded by document
    length, never corpus-wide. Text moves exactly once, as single words
    into the rebuild.
    """
    occ = gram_position_hashes(docs, n=n, text_col=text_col, id_col=id_col).select(
        F.col(id_col),
        "idx",
        "gram",
        (F.col(id_col) * F.lit(1000000) + F.col("idx")).alias("_pos"),
    )
    # NOTE: occ feeds the winner aggregate AND the non-winner join, but an
    # occ lineage cut here measured flat at sf1 (4.95 vs 4.97 s — the
    # winner aggregate is already cut by the sizer) while storing
    # corpus-position-scale blocks on an operator with driver-OOM history;
    # duplicated_span_stats keeps its occ cut (3 consumers, −14% there)
    dup = (
        occ.groupBy("gram")
        .agg(F.min("_pos").alias("_keeper"), F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") > 1)
        .select("gram", "_keeper")
    )
    dup, hint = _eval_join_hint(
        dup, broadcast_dup, BROADCAST_EVAL_MAX_ROWS, what="span-removal duplicated-gram set"
    )
    nonwin = occ.join(hint(dup), "gram").filter(F.col("_pos") != F.col("_keeper"))
    cov = (
        nonwin.select(
            F.col(id_col), F.explode(F.sequence(F.col("idx"), F.col("idx") + (n - 1))).alias("widx")
        )
        .distinct()
        .withColumn("_cov", F.lit(True))
    )
    words = docs.select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), " ")).alias("widx", "word")
    )
    flagged = words.join(cov, [id_col, "widx"], "left")
    return flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(F.col("_cov").isNull(), F.struct("widx", "word")))
                ),
                lambda s: s["word"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_words"),
        F.count(F.col("_cov")).alias("n_removed"),
    )


def bloom_filter_words(
    digests: DataFrame, m_bits: int = 1 << 17, k_hashes: int = 4, col: str = "digest"
) -> list[int]:
    """Build a Bloom filter over a digest column → list of ⌈m_bits/64⌉
    int64 words (driver-side, bounded by m_bits — 2^17 bits is 16 KiB;
    size m ≈ 10·n for ~1.2% fp at k=4).

    Built distributed: each digest maps to k xxhash64-derived bit
    positions; the bit→word OR-fold partial-aggregates map-side, so the
    only exchange carries ≤ m/64 rows regardless of store size, and the
    store's text never moves — only its digest column is scanned. The
    collect is the filter itself (the bounded model artifact, not data),
    same contract as the classifier weight-table pulls."""
    n_words = (m_bits + 63) // 64
    pos = digests.select(
        F.explode(
            F.array(
                *[F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m_bits)) for i in range(k_hashes)]
            )
        ).alias("_pos")
    )
    words = (
        pos.select(
            (F.col("_pos") / 64).cast("int").alias("_w"),
            F.col("_pos").cast("int").alias("_pos"),
        )
        .groupBy("_w")
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), _pos % 64))").alias("_word"))
        .collect()
    )
    out = [0] * n_words
    for r in words:
        out[r["_w"]] = r["_word"]
    return out


def incremental_dedup_bloom(
    batch: DataFrame,
    store_digests: DataFrame,
    m_bits: int = 1 << 17,
    k_hashes: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``incremental_dedup`` with a Bloom membership pre-filter — bit-for-bit
    the same result (the Bloom admits false POSITIVES only, and every
    positive is verified by the exact anti-join), but the join's batch
    side shrinks to true duplicates + the fp rate, and batch rows the
    filter clears never enter an exchange at all.

    This is the 100 TB shape of dedup-against-history: the historical
    store is orders of magnitude larger than any incoming batch, so the
    win is keeping the BATCH out of the store-sized join — a cleared row's
    only cost is k integer hashes against a broadcast bitmap (the same
    pattern Spark's own AQE runtime bloom-join injects, here applied
    across the batch/store boundary where AQE cannot see). The filter is
    a bounded artifact (m_bits/8 bytes); in production it persists
    alongside the digest store and ORs in each committed batch instead of
    rebuilding — ``bloom_filter_words`` is that builder.

    Output contract matches ``incremental_dedup``: (digest, id) survivors,
    lowest id per digest within the batch, digests absent from the store.
    """
    words = bloom_filter_words(store_digests, m_bits, k_hashes)
    fp = batch.select(F.col(id_col), F.md5(F.col(text_col)).alias("digest"))
    fp = fp.select(
        "*", *[
            F.pmod(F.xxhash64("digest", F.lit(i)), F.lit(m_bits)).alias(f"_p{i}")
            for i in range(k_hashes)
        ]
    ).withColumn("_bw", F.lit(words).cast("array<bigint>"))
    hit = F.lit(True)
    for i in range(k_hashes):
        hit = hit & F.expr(
            f"(shiftright(element_at(_bw, CAST(_p{i} div 64 AS INT) + 1),"
            f" CAST(_p{i} % 64 AS INT)) & 1) = 1"
        )
    flagged = fp.withColumn("_hit", hit).select(id_col, "digest", "_hit")
    flagged = flagged.localCheckpoint(eager=False)
    cleared = flagged.filter(~F.col("_hit"))
    verified = flagged.filter(F.col("_hit")).join(
        store_digests.select("digest"), "digest", "left_anti"
    )
    fresh = cleared.select(id_col, "digest").unionByName(verified.select(id_col, "digest"))
    return fresh.groupBy("digest").agg(F.min(id_col).alias(id_col)).select(id_col, "digest")
