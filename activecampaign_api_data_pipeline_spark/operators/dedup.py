"""Deduplication operator family — exact through approximate.

Exact dedup re-expresses the reference's content-hash dedup
(run_ac_extraction.py:164-173, SURVEY.md A1). The approximate family
(MinHash+LSH, SimHash, n-gram Jaccard) is the 100 TB training-data
extension: all are expressed as declarative DataFrame plans whose only
shuffles are the LSH band group-join and the final pair dedup.

Design for scale:
- Signatures (MinHash, SimHash) are explode → hash-each-shingle-once →
  map-side partial min/vote aggregates; the signature shuffle carries
  (doc_id, 8-byte hash), never raw text.
- Candidate generation shuffles on (band_id, band_hash) — the classic
  LSH bucket join; bucket sizes are bounded w.h.p., and AQE splits
  stragglers.
- Hashing uses :func:`hash60` (md5-derived) so the DuckDB oracle can
  reproduce signatures exactly.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from activecampaign_api_data_pipeline_spark.functions.hashing import hash60, with_row_hash
from activecampaign_api_data_pipeline_spark.functions.text import word_ngrams
from activecampaign_api_data_pipeline_spark.storage import (
    SIDECAR_INCOMPLETE,
    path_exists,
    read_text_sidecar,
    write_text_sidecar,
)

#: Mersenne prime modulus for the universal-hash permutations. Small enough
#: that a*x+b stays inside int64 in BOTH Spark and DuckDB (no int128 needed).
MINHASH_P = 2_147_483_647


def minhash_perm_params(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a_i * x + b_i) mod p.

    Derived from a fixed linear congruential walk (NOT random at runtime —
    signatures must be stable across runs and reproducible in the oracle).
    """
    params = []
    a, b = 1_103_515_245, 12_345
    for _ in range(num_perm):
        a = (a * 69_069 + 1) % MINHASH_P
        b = (b * 69_069 + 101) % MINHASH_P
        params.append((a or 1, b))
    return params


def exact_dedup(
    df: DataFrame,
    content_cols: list[str] | None = None,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Content-hash exact dedup (reference A1, :164-173).

    ``keep="first"`` is made deterministic with an explicit order
    (reference relies on pandas file order — no distributed equivalent,
    SURVEY.md §7.3). With ``order_cols=None`` falls back to
    ``dropDuplicates`` (any winner) — cheaper, use when rows are identical
    anyway.
    """
    hashed = with_row_hash(df, content_cols)
    if order_cols is None:
        return hashed.dropDuplicates(["_row_hash"])
    from pyspark.sql import Window

    w = Window.partitionBy("_row_hash").orderBy(*[F.col(c).asc() for c in order_cols])
    return hashed.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")


def incremental_dedup(new: DataFrame, old: DataFrame, content_cols: list[str] | None = None) -> DataFrame:
    """Idempotent append: rows of ``new`` whose content hash is unseen.

    The scalable replacement for the reference's full-master
    read-concat-rewrite (:159-173): bronze stays append-only and each run
    appends only ``incremental_dedup(delta, bronze)`` (left anti join on
    the hash — broadcast or shuffled-hash as sizes dictate).
    """
    new_h = with_row_hash(new, content_cols)
    old_h = with_row_hash(old, content_cols).select("_row_hash").distinct()
    return new_h.join(old_h, "_row_hash", "left_anti")


def _shingle_sets(docs: DataFrame, id_col: str, text_col: str, ngram: int) -> DataFrame:
    """(doc_id, shingles array) with empty-shingle docs dropped.

    Repartitions narrow scans first: shingling is the CPU-heavy stage and a
    single-file table would otherwise run it on one core. The empty-doc
    gate is a CHEAP token-count predicate (a doc shingles to nothing iff
    it has < ngram tokens), not ``size(shingles) > 0``: filtering on the
    projected shingle column makes Catalyst substitute the whole shingling
    expression into the predicate and push it below the widening exchange —
    the entire n-gram build then runs twice, once in the single-task scan
    stage (measured ~2× on the LSH family). ``widened_filter`` keeps even
    the cheap gate in the parallel stage.
    """
    from activecampaign_api_data_pipeline_spark.functions.text import token_count
    from activecampaign_api_data_pipeline_spark.sources.tables import (
        ensure_min_parallelism,
        widened_filter,
    )

    wide = ensure_min_parallelism(docs)
    return widened_filter(wide, token_count(F.col(text_col)) >= ngram).select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(word_ngrams(F.col(text_col), ngram)).alias("shingles"),
    )


def minhash_signatures(
    shingle_sets: DataFrame, num_perm: int = 32
) -> DataFrame:
    """(doc_id, sig array<long>) via explode → hash-once → k min-aggregates.

    Each shingle is md5-hashed exactly ONCE (explode), then the k permuted
    mins are map-side partial aggregates — the formulation that scales:
    a per-row ``array_min(transform(...))`` expression tree re-inlines the
    hashing per permutation and chokes codegen, and a 100 TB corpus wants
    the shuffle to carry (doc_id, 8-byte hash), not raw text. h is reduced
    mod p BEFORE the multiply so a*h stays inside int64 (exactly how the
    oracle SQL does it).
    """
    ex = shingle_sets.select("doc_id", F.explode("shingles").alias("s")).select(
        "doc_id", (hash60(F.col("s")) % MINHASH_P).alias("h")
    )
    mins = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_P).alias(f"_m{i}")
        for i, (a, b) in enumerate(minhash_perm_params(num_perm))
    ]
    agg = ex.groupBy("doc_id").agg(*mins)
    return agg.select(
        "doc_id", F.array(*[F.col(f"_m{i}") for i in range(num_perm)]).alias("sig")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    bands: int = 8,
    ngram: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding, verified by exact Jaccard.

    Plan shape (the standard scale-out LSH dedup, e.g. the public
    Spark-based web-dedup pipelines):

    1. signature per doc (no shuffle),
    2. explode ``bands`` band-hashes per doc (rows × bands),
    3. shuffle on (band, band_hash); self-join inside buckets → candidates,
    4. distinct candidate pairs (second small shuffle),
    5. verify candidates with exact shingle Jaccard (join back to shingle
       sets — only candidate pairs pay this cost).

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    sh = _shingle_sets(docs, id_col, text_col, ngram)
    sigs = minhash_signatures(sh, num_perm)
    banded = _banded(sigs, num_perm, bands)
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(right, on=["band", "bh"])
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )
    verified = (
        cand.join(sh.withColumnsRenamed({"doc_id": "doc_a", "shingles": "sh_a"}), "doc_a")
        .join(sh.withColumnsRenamed({"doc_id": "doc_b", "shingles": "sh_b"}), "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.size("sh_a") + F.size("sh_b") - F.col("n_inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return verified


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    threshold: float = 0.2,
    max_df: int | None = 1000,
) -> DataFrame:
    """n-gram Jaccard similar pairs over the ``df ≤ max_df`` shingle
    universe (ground truth for the sketches).

    Explode distinct shingles → self-join on shingle → intersection
    counts → Jaccard filter. The self-join emits O(df²) rows per
    shingle, so a stop-shingle shared by k documents would explode the
    shuffle; ``max_df`` anti-joins those hot shingles out FIRST, bounding
    the join at O(max_df²) rows per shingle. Both the intersection AND
    the per-doc set sizes use the filtered universe, so the Jaccard
    algebra stays consistent (and a doc whose shingles are all hot drops
    out entirely). Stop-shingles carry no discriminative signal — this is
    the standard df-cut, not an approximation knob; set ``max_df=None``
    only on corpora known to have no hot shingles.

    The postings shuffle carries ``xxhash64`` of each shingle, not the
    shingle text ("shuffles carry hashes, not text" — the join key is 8
    bytes instead of a multi-word string; found as the dominant shuffle
    cost in the 10x scale smoke). xxhash64 rather than :func:`hash60`
    because this hash is a JOIN IDENTITY, not an oracle-visible value —
    the sketch ops need md5-reproducibility in SQL, this does not, and
    xxhash64 is a native single-pass hash with no hex round-trip.
    Identical to literal-shingle Jaccard unless two distinct shingles of
    ONE corpus collide in 64 bits (P ≈ n²/2⁶⁵); the oracle stays
    literal, so the correctness gate re-verifies no-collision every run.
    """
    sh = _shingle_sets(docs, id_col, text_col, ngram).select(
        "doc_id", F.explode("shingles").alias("s")
    ).select("doc_id", F.xxhash64(F.col("s")).alias("shingle"))
    if max_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"doc_id": "doc_a", "n_sh": "n_a"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "n_sh": "n_b"}), "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash_signatures(
    shingle_sets: DataFrame, bits: int = 60
) -> DataFrame:
    """(doc_id, sig bigint): per-bit majority vote over shingle hash60s.

    Features are word n-grams, not tokens — on corpora with a shared
    vocabulary token-level SimHash saturates (every doc looks alike);
    shingles keep the signature discriminative.

    Same scale shape as :func:`minhash_signatures`: explode → hash each
    shingle ONCE → ``bits`` ±1 sum-aggregates (map-side combined) → pack.
    Bit j is 1 iff ``count(hash bit j set) * 2 >= count(shingles)``,
    i.e. the ±1 vote sum is ≥ 0. ``bits`` ≤ 60 (hash60 width).
    """
    bits = min(bits, 60)
    ex = shingle_sets.select("doc_id", F.explode("shingles").alias("s")).select(
        "doc_id", hash60(F.col("s")).alias("h")
    )
    votes = [
        F.sum(
            F.when(F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_v{j}")
        for j in range(bits)
    ]
    agg = ex.groupBy("doc_id").agg(*votes)
    sig = F.lit(0).cast("long")
    for j in range(bits):
        bit = F.when(F.col(f"_v{j}") >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = sig + F.shiftleft(bit, j)
    return agg.select("doc_id", sig.alias("sig"))


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    chunks: int = 4,
    ngram: int = 3,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ k via chunk banding.

    Pigeonhole: distance ≤ k with ``chunks`` = k+1 bands guarantees at
    least one identical 15-bit chunk → candidates come from equality joins
    on chunks (scales like LSH), then exact popcount verification.
    """
    width = 60 // chunks
    sigd = simhash_signatures(_shingle_sets(docs, id_col, text_col, ngram))
    chunk_rows = sigd.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("chunk"),
                        F.shiftright("sig", j * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("cv"),
                    )
                    for j in range(chunks)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "sig", F.col("c.chunk").alias("chunk"), F.col("c.cv").alias("cv"))
    cand = (
        chunk_rows.alias("a")
        .join(chunk_rows.alias("b"), ["chunk", "cv"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def neardup_canonical(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 20,
) -> DataFrame:
    """Collapse near-dup PAIRS into clusters and elect one canonical doc each.

    The missing last step of every dedup pipeline: pair detectors (MinHash,
    SimHash, embedding gates) emit edges; the corpus needs connected
    components over those edges, then keep exactly one doc (min id) per
    component. The reference has no dedup at all; this is the
    train-data-pipeline extension (SURVEY §2 north-star).

    Distributed algorithm: iterative min-label propagation —
    ``label(x) <- min(label(x), min over neighbors(label))`` — which
    converges in graph-DIAMETER rounds. Near-dup components are dense and
    shallow (a burst of copies of one source doc), so the diameter is
    almost always <= 3; ``max_iters`` is a safety bound. Each round is one
    shuffle of the (node, label) frame — tiny relative to the corpus, since
    only docs that appear in a pair participate. Convergence is detected
    with a single scalar count per round (bounded driver traffic). For
    adversarially long chain graphs, use
    :func:`largestar_smallstar_components` (O(log² n) rounds worst case,
    same join/agg primitives); the output contract is identical.

    Returns ``(doc_id, canonical_id, is_kept)`` over ALL docs: docs in no
    pair are their own canonical (kept); within a component only the min
    id has ``is_kept = 1``.
    """
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        .persist()
    )
    # each round's labels frame is checkpointed to TRUNCATE LINEAGE: labels
    # feeds two branches per round, so without truncation the logical plan
    # doubles every iteration (2^k nodes — the driver, not the executors,
    # dies first). localCheckpoint here; a reliable checkpoint dir on a real
    # cluster (survives executor loss).
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint()
    )
    for _ in range(max_iters):
        nbr = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.alias("l")
            .join(nbr, F.col("l.node") == nbr["src"], "left")
            .select(
                F.col("l.node").alias("node"),
                F.least(F.col("l.label"), F.coalesce("nbr_label", F.col("l.label"))).alias("label"),
            )
            .localCheckpoint()
        )
        improved = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
            .filter(F.col("n.label") < F.col("o.label"))
            .count()
        )
        labels = new_labels
        if improved == 0:
            break
    canon = labels.select(F.col("node").alias(id_col), F.col("label").alias("canonical_id"))
    return (
        docs.select(id_col)
        .join(canon, id_col, "left")
        .select(
            id_col,
            F.coalesce("canonical_id", F.col(id_col)).alias("canonical_id"),
        )
        .withColumn("is_kept", (F.col(id_col) == F.col("canonical_id")).cast("int"))
    )


def largestar_smallstar_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iters: int = 30,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction — the O(log² n)-round worst-case algorithm (public:
    Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14), closing the adversarial-chain gap :func:`neardup_canonical`
    documents: min-label propagation needs DIAMETER rounds, so a planted
    chain of length d costs d shuffles; star contraction halves chain
    length every alternation and converges in tens of rounds on graphs
    min-label could never finish.

    One alternation over the current edge multiset E (kept canonical:
    ``u > v``, no self-loops, distinct):

    - **large-star**: per node ``a``, every strictly-larger neighbor is
      re-pointed at ``m(a) = min(Γ(a) ∪ {a})`` — long tails fold onto
      local minima in parallel.
    - **small-star**: per node ``u`` (edges oriented high→low), all of
      ``Γ_≤(u) ∪ {u}`` re-points at the minimum neighbor — stars
      flatten so the next large-star sees depth-1 trees.

    Each phase is ONE groupBy on the node key plus one join of the edge
    frame against the per-node minimum (support-sized, broadcastable);
    the frame shrinks monotonically toward one (member, component-min)
    row per non-root node. Rounds localCheckpoint (truncate the doubling
    lineage); convergence is a two-scalar checksum (count + xxhash sum)
    per round — bounded driver traffic, no collect of data.

    Returns ``(node, label)`` for every node with degree ≥ 1, where
    ``label`` is the component's minimum node id. Raises if the edge set
    has not stabilized within ``max_iters`` alternation PAIRS (the loop
    runs two alternations per convergence check, so up to 2·max_iters
    alternations — loud, not silently-wrong; at 2^30 nodes the bound is
    still generous).
    """
    e0 = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .distinct()
        .localCheckpoint()
    )

    def _checksum(e: DataFrame) -> tuple:
        r = e.agg(
            F.count("*").alias("n"),
            # decimal accumulator: a plain BIGINT sum of 2^63-range hashes
            # overflows under ANSI mode
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (r["n"], r["h"])

    def _alternation(cur: DataFrame) -> DataFrame:
        # large-star: symmetrize, point larger neighbors at the local min
        sym = cur.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
            cur.select(F.col("v").alias("a"), F.col("u").alias("b"))
        )
        lmin = (
            sym.groupBy("a")
            .agg(F.min("b").alias("mb"))
            .select("a", F.least("mb", F.col("a")).alias("m"))
        )
        lrg = (
            sym.filter(F.col("b") > F.col("a"))
            .join(lmin, "a")
            .select(F.col("b").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            # NOTE (measured, r13 AND r14): two rewrites of this dedup
            # were tried and both measured SLOWER at bench scale, so the
            # plain distinct() stays. r13: keyed repartition("u") +
            # dropDuplicates(["u","v"]) (one shared exchange) — a user
            # repartition pins the partition count and AQE stops
            # coalescing (k_cc_store 8.1→10.0). r14: REMOVING the
            # distinct outright (it is semantically redundant — smin's
            # MIN absorbs duplicates and the final distinct canonicalizes
            # the output, label-identity pinned by the multigraph test) —
            # interleaved A/B read k_cc_store 11.4→14.6, g_cc_chain
            # 6.7→7.5: the dedup'd stage's smaller materialized stats
            # feed AQE's runtime join planning, and the duplicate rows
            # flowing into the final distinct cost more than the saved
            # exchange. Barrier count is NOT the whole story here.
            .distinct()
        )
        # small-star: per high node, fold every low neighbor (and the
        # node itself) onto the minimum low neighbor
        smin = lrg.groupBy("u").agg(F.min("v").alias("m"))
        return (
            lrg.join(smin, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .unionAll(smin.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
            .distinct()
        )

    sig = _checksum(e0)  # one agg doubles as the emptiness probe (n == 0)
    if sig[0] == 0:
        return e0.select(F.col("u").alias("node"), F.col("v").alias("label"))

    cur = e0
    for _ in range(max_iters):
        # TWO alternations per convergence check: every alternation must
        # still localCheckpoint (its frame feeds four branches of the
        # next one — leaving it lazy duplicates the whole subtree in the
        # downstream plan, measured 2x WORSE at sf0.1), but the
        # convergence checksum only needs to run once per pair: the
        # alternation is deterministic and its fixpoint is stable
        # (applying it to converged edges reproduces them bit-for-bit),
        # so checking every second alternation yields the identical
        # label set, at worst one extra no-op pair. 3 driver-barrier
        # jobs per 2 alternations instead of 4 — these are
        # support-sized frames, so the barrier, not the shuffle, is the
        # round cost, locally and at 100 TB alike.
        mid = _alternation(cur).localCheckpoint()
        nxt = _alternation(mid).localCheckpoint()
        nsig = _checksum(nxt)
        cur = nxt
        if nsig == sig:
            break
        sig = nsig
    else:
        raise RuntimeError(
            "largestar_smallstar_components did not converge in "
            f"{max_iters} alternation pairs"
        )
    # fixpoint: every edge is (member, component-min); roots label themselves
    return (
        cur.select(F.col("u").alias("node"), F.col("v").alias("label"))
        .unionAll(cur.select(F.col("v").alias("node"), F.col("v").alias("label")))
        .distinct()
    )


def build_cc_store(edges: DataFrame, path: str) -> None:
    """Persist connected-component labels at ``path`` — the dedup-cluster
    analogue of the ANN/text index stores: pair detectors run daily, but
    components must be maintained INCREMENTALLY (re-clustering the full
    corpus per batch is the one cost that grows with history, not with
    the day's data). ``labels`` holds ``(node, label)`` with label = the
    component's min node id, computed by
    :func:`largestar_smallstar_components`; the ``params.json`` sidecar
    follows the crash-safe ``_building_`` marker protocol."""
    import json

    spark = edges.sparkSession
    write_text_sidecar(
        spark, f"{path}/params.json", json.dumps({"_building_": True})
    )
    labels = largestar_smallstar_components(edges)
    labels.write.mode("overwrite").parquet(f"{path}/labels")
    write_text_sidecar(
        spark, f"{path}/params.json", json.dumps({"kind": "cc_labels"})
    )


def append_cc_edges(new_edges: DataFrame, path: str) -> None:
    """Ingest a NEW batch of edges into the persisted component store in
    work proportional to the TOUCHED components, never the full graph:

    1. CONTRACT the batch through the stored labels — each endpoint maps
       to its component's label (unseen nodes stay raw), and edges
       internal to one component vanish. The contracted graph has one
       node per touched component/new node: batch-sized, not
       corpus-sized.
    2. Re-run star contraction on that contracted graph — merges that
       CHAIN across this batch (edge A-B plus edge B-C fusing three old
       components) resolve here, in O(log batch) rounds over batch-sized
       frames.
    3. Fold the resulting relabel map back: stored rows whose label was
       remapped move to the merged component's new min (one scan of the
       label table with a broadcast map-side join — the same
       scan-codes-only cost shape as the ANN index probes), and unseen
       nodes insert. The rewrite here is a plain overwrite; at 100 TB,
       bucket ``labels`` by label and rewrite only source+destination
       buckets (the ``TableStore`` dynamic-overwrite pattern) — the
       contract stays O(touched).

    Because every stored label is already its component's minimum, the
    contracted min IS the merged component's global min — no second
    fixpoint over the store is ever needed.
    """
    spark = new_edges.sparkSession
    store = spark.read.parquet(f"{path}/labels")
    e = new_edges.select(F.col("src").alias("a"), F.col("dst").alias("b")).filter(
        F.col("a") != F.col("b")
    )
    la = store.withColumnsRenamed({"node": "a", "label": "la"})
    lb = store.withColumnsRenamed({"node": "b", "label": "lb"})
    contracted = (
        e.join(la, "a", "left")
        .join(lb, "b", "left")
        .select(
            F.coalesce("la", F.col("a")).alias("src"),
            F.coalesce("lb", F.col("b")).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    m = largestar_smallstar_components(contracted)
    remap = m.filter(F.col("node") != F.col("label")).withColumnsRenamed(
        {"node": "old", "label": "new"}
    )
    moved = (
        store.join(F.broadcast(remap), store["label"] == remap["old"])
        .select("node", F.col("new").alias("label"))
    )
    kept = store.join(
        F.broadcast(remap), store["label"] == remap["old"], "left_anti"
    )
    batch_nodes = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .distinct()
    )
    fresh = batch_nodes.join(store, "node", "left_anti")
    fresh_labeled = (
        fresh.join(m, "node", "left")
        .select("node", F.coalesce("label", F.col("node")).alias("label"))
    )
    updated = kept.unionByName(moved).unionByName(fresh_labeled).localCheckpoint(
        eager=True
    )
    updated.write.mode("overwrite").parquet(f"{path}/labels")


def read_cc_labels(spark, path: str) -> DataFrame:
    """Current ``(node, label)`` component assignment from the store."""
    return spark.read.parquet(f"{path}/labels")


def cross_split_contamination(
    train: DataFrame,
    test: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 1000,
) -> DataFrame:
    """Train/test contamination: train docs that contain a benchmark doc.

    The decontamination primitive of a training-data pipeline: for every
    (train, test) doc pair sharing word-``ngram`` shingles, compute the
    CONTAINMENT of the test doc — ``|A ∩ B| / |B|`` with B the test doc's
    shingle set (containment, not Jaccard: a benchmark item pasted into a
    much larger train doc must still score ~1). Pairs at or above
    ``threshold`` are flagged; drop the train side upstream.

    Scale shape mirrors :func:`ngram_jaccard_pairs`: the join is on the
    shingle postings with hot shingles (df > ``max_df`` across BOTH
    splits) cut first — bounding the cross join at O(df_train × df_test)
    per surviving shingle — and only test-side set sizes are needed;
    postings carry ``xxhash64`` of each shingle, not the text (same
    8-byte-join-key rationale and collision bound as
    :func:`ngram_jaccard_pairs`). Returns ``(train_id, test_id,
    n_common, containment)``.
    """
    tr = _shingle_sets(train, id_col, text_col, ngram).select(
        F.col("doc_id").alias("train_id"), F.explode("shingles").alias("s")
    ).select("train_id", F.xxhash64(F.col("s")).alias("shingle"))
    te = _shingle_sets(test, id_col, text_col, ngram).select(
        F.col("doc_id").alias("test_id"), F.explode("shingles").alias("s")
    ).select("test_id", F.xxhash64(F.col("s")).alias("shingle"))
    if max_df is not None:
        both = tr.select("shingle").unionAll(te.select("shingle"))
        hot = (
            both.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("shingle")
        )
        tr = tr.join(F.broadcast(hot), "shingle", "left_anti")
        te = te.join(F.broadcast(hot), "shingle", "left_anti")
    te_sizes = te.groupBy("test_id").agg(F.count("*").alias("n_test"))
    common = (
        tr.join(te, "shingle")
        .groupBy("train_id", "test_id")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(te_sizes, "test_id")
        .withColumn("containment", F.round(F.col("n_common") / F.col("n_test").cast("double"), 6))
        .filter(F.col("containment") >= threshold)
        .select("train_id", "test_id", "n_common", "containment")
    )


def decontam_store_build(
    test_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    max_df: int | None = 1000,
) -> None:
    """Persist the benchmark/eval side of decontamination ONCE so every
    future training batch can be checked without re-shingling the eval
    sets: ``postings`` (test_id, shingle-hash) with shingles hot WITHIN
    the eval corpus (df > ``max_df``) dropped, ``sizes`` (test_id,
    n_test — the surviving set size the containment denominator needs),
    and a ``params.json`` sidecar (ngram, max_df) that
    :func:`incremental_decontaminate` validates so a batch is never
    checked with mismatched shingling. Rebuild = overwrite; the sidecar
    is invalidated first and written last (same crash contract as the
    ANN index build).

    The hot cut here is test-side-only — the batch (train) side is
    unbounded and unknown at build time. That differs from
    :func:`cross_split_contamination`'s both-sides cut exactly when a
    shingle is rare in the eval sets but hot in training data; such a
    shingle costs O(df_train × df_test_small) in the join, which the
    per-batch bound keeps linear in batch size.
    """
    import json as _json

    spark = test_docs.sparkSession
    write_text_sidecar(
        spark, f"{path}/params.json", _json.dumps({"_building_": True})
    )
    te = (
        _shingle_sets(test_docs, id_col, text_col, ngram)
        .select(F.col("doc_id").alias("test_id"), F.explode("shingles").alias("s"))
        .select("test_id", F.xxhash64(F.col("s")).alias("shingle"))
    )
    if max_df is not None:
        hot = (
            te.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("shingle")
        )
        te = te.join(F.broadcast(hot), "shingle", "left_anti")
    te = te.localCheckpoint(eager=True)  # two writes + sizes, one computation
    te.write.mode("overwrite").parquet(f"{path}/postings")
    te.groupBy("test_id").agg(F.count("*").alias("n_test")).write.mode(
        "overwrite"
    ).parquet(f"{path}/sizes")
    write_text_sidecar(
        spark,
        f"{path}/params.json",
        _json.dumps({"ngram": ngram, "max_df": max_df}),
    )


def ensure_decontam_store(
    test_docs: DataFrame,
    path: str,
    ngram: int = 3,
    max_df: int | None = 1000,
    **build_kw,
) -> str:
    """Build the eval-set store at ``path`` unless a complete one with the
    SAME (ngram, max_df) already exists — the build-once/check-many shape
    (same ensure semantics as ``ensure_ann_index``: the sidecar is the
    completeness marker, a mid-rebuild `_building_` sidecar or a param
    mismatch triggers a rebuild)."""
    import json as _json

    spark = test_docs.sparkSession
    try:
        existing = _json.loads(read_text_sidecar(spark, f"{path}/params.json"))
        if existing == {"ngram": ngram, "max_df": max_df}:
            return path
    except SIDECAR_INCOMPLETE:
        pass  # absent, mid-rebuild marker or junk -> build; IO errors raise
    decontam_store_build(test_docs, path, ngram=ngram, max_df=max_df, **build_kw)
    return path


def incremental_decontaminate(
    new_docs: DataFrame,
    path: str,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Check a NEW training batch against the persisted eval-set store —
    the per-ingest decontamination gate: shingle the batch (params from
    the store sidecar), join against the stored postings, flag batch
    docs whose containment of any eval doc ≥ ``threshold``.

    Read-only against the store, so replays are trivially idempotent;
    cost is O(batch shingles + posting collisions) and the eval corpora
    are never re-read. Returns (train_id, test_id, n_common,
    containment) like the batch operator.
    """
    import json as _json

    spark = new_docs.sparkSession
    raw = read_text_sidecar(spark, f"{path}/params.json")
    params = _json.loads(raw) if raw is not None else {}
    if "ngram" not in params:
        raise ValueError(f"decontam store at {path} is incomplete (mid-rebuild?)")
    tr = (
        _shingle_sets(new_docs, id_col, text_col, int(params["ngram"]))
        .select(F.col("doc_id").alias("train_id"), F.explode("shingles").alias("s"))
        .select("train_id", F.xxhash64(F.col("s")).alias("shingle"))
    )
    te = spark.read.parquet(f"{path}/postings")
    sizes = spark.read.parquet(f"{path}/sizes")
    common = (
        tr.join(te, "shingle")
        .groupBy("train_id", "test_id")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(sizes, "test_id")
        .withColumn(
            "containment", F.round(F.col("n_common") / F.col("n_test").cast("double"), 6)
        )
        .filter(F.col("containment") >= threshold)
        .select("train_id", "test_id", "n_common", "containment")
    )


def _banded(sigs: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """Explode a signature frame into (doc_id, band, bh) band-hash rows —
    shared by the in-session LSH and the persisted signature store."""
    rows = num_perm // bands
    band_exprs = [
        F.struct(
            F.lit(j).alias("band"),
            F.md5(
                F.concat_ws(",", *[F.col("sig")[j * rows + r].cast("string") for r in range(rows)])
            ).alias("bh"),
        )
        for j in range(bands)
    ]
    return sigs.select("doc_id", F.explode(F.array(*band_exprs)).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )


def sig_jaccard_est(a, b, num_perm: int):
    """Signature-estimated Jaccard: fraction of agreeing minhash
    components — the standard estimator (E[est] = J), used where the
    original shingle sets are no longer available (persisted store)."""
    agree = F.size(F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda v: v))
    return F.round(agree.cast("double") / num_perm, 6)


def _minhash_spec(num_perm: int, bands: int, ngram: int) -> dict:
    return {"num_perm": int(num_perm), "bands": int(bands), "ngram": int(ngram)}


def _minhash_store_params(
    spark, path: str, num_perm: int, bands: int, ngram: int
) -> bool:
    """Validate (num_perm, bands, ngram) against the store's frozen
    params.json, RAISING on drift (the frozen-sidecar-spec discipline
    every other persisted store follows — r10 advice class): a later
    append with a different num_perm would mix incompatible signature
    lengths into one sigs table; a different ngram would change what a
    signature even measures.

    Returns True when a frozen sidecar exists and matched, False when
    the store has none yet — the CALLER writes it after the first sigs
    append succeeds (sidecar-last, r11 advice: the old write-first order
    meant a crash mid-build left a half-written sidecar that wedged the
    store). A partially-written legacy sidecar (empty text dir from a
    crashed pre-r12 coalesce-write) reads as absent and is replaced."""
    import json as _json

    spec = _minhash_spec(num_perm, bands, ngram)
    raw = read_text_sidecar(spark, f"{path}/params.json")
    if raw is None:  # absent, or crashed legacy dir-write: no frozen spec
        return False
    frozen = _json.loads(raw)
    if frozen != spec:
        raise ValueError(
            f"minhash store at {path} was built with {frozen};"
            f" call passed {spec} — the spec is frozen at first ingest"
        )
    return True


def _legacy_backfill_guard(spark, path: str, num_perm: int, bands: int) -> None:
    """Gate the first-caller-wins sidecar backfill on the evidence the
    artifacts already carry. A sidecar-less store with existing sigs is
    either genuinely legacy (pre-sidecar layout) or the residue of a crash
    between the first sigs append and the sidecar write; in the crash case
    a NEXT caller with a different (num_perm, bands) must not freeze ITS
    spec over incompatible signatures (r12 advice). Signature array length
    pins num_perm exactly; the stored band indexes bound the band count —
    a mismatch on either raises instead of silently mixing specs. ``ngram``
    leaves no artifact trace, so a same-shape different-ngram caller is
    accepted (documented limit of first-caller-wins)."""
    row = spark.read.parquet(f"{path}/sigs").select(F.size("sig").alias("n")).first()
    if row is not None and row["n"] != num_perm:
        raise ValueError(
            f"minhash store at {path} has no params sidecar but its stored"
            f" signatures have length {row['n']} != num_perm={num_perm};"
            " refusing to backfill a mismatched spec"
        )
    if path_exists(spark, f"{path}/bands"):
        mb = spark.read.parquet(f"{path}/bands").agg(F.max("band")).first()[0]
        if mb is not None and mb >= bands:
            raise ValueError(
                f"minhash store at {path} has no params sidecar but its"
                f" stored band index max {mb} >= bands={bands};"
                " refusing to backfill a mismatched spec"
            )


def minhash_store_append(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    bands: int = 8,
    ngram: int = 3,
) -> None:
    """Append a batch's MinHash signatures to a persisted store — the
    growing-corpus half of incremental near-dup.

    Artifacts (parquet, append-only): ``sigs`` (doc_id, sig) for the
    verification estimate and ``bands`` (doc_id, band, bh) as the join
    index. A replayed batch is a no-op: ids already in ``sigs`` are
    anti-joined away before either append, so crash-and-rerun cannot
    double-index a document (same contract as the ANN code store). At
    100 TB the store is ~num_perm longs per document — the corpus text
    never needs to be re-read to dedup future batches against it.

    Write ORDER is load-bearing: bands first, sigs second, while the
    replay guard keys on sigs. A crash between the two appends then
    leaves orphan band rows, and the replayed batch (ids absent from
    sigs) re-appends them — duplicate band rows, which the candidate
    join's ``.distinct()`` absorbs. The reverse order would leave docs
    present in sigs but absent from bands: the replay would skip them
    and they would silently never generate near-dup candidates again.
    """
    spark = docs.sparkSession
    had_params = _minhash_store_params(spark, path, num_perm, bands, ngram)
    if not had_params and path_exists(spark, f"{path}/sigs"):
        # sidecar-less but sigs present: legacy store OR crash residue —
        # verify this caller's spec against the artifacts BEFORE appending
        _legacy_backfill_guard(spark, path, num_perm, bands)
    sh = _shingle_sets(docs, id_col, text_col, ngram)
    sigs = minhash_signatures(sh, num_perm)
    if path_exists(spark, f"{path}/sigs"):
        seen = spark.read.parquet(f"{path}/sigs").select("doc_id")
        sigs = sigs.join(seen, "doc_id", "left_anti")
    sigs = sigs.localCheckpoint(eager=True)  # two writes, one computation
    _banded(sigs, num_perm, bands).write.mode("append").parquet(f"{path}/bands")
    sigs.write.mode("append").parquet(f"{path}/sigs")
    if not had_params:
        # first ingest — or a legacy (pre-sidecar) store, which gets the
        # sidecar BACKFILLED from this call's spec, first-caller-wins
        # (r11 verdict: a later mismatched-banding probe must raise, not
        # silently find no candidates). Written AFTER the sigs append
        # succeeds (sidecar-last), atomically.
        write_text_sidecar(
            spark, f"{path}/params.json",
            json.dumps(_minhash_spec(num_perm, bands, ngram), sort_keys=True),
        )


def incremental_minhash_pairs(
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    bands: int = 8,
    ngram: int = 3,
    threshold: float = 0.5,
    broadcast_new: bool = True,
) -> DataFrame:
    """Near-dup pairs of a NEW batch against the persisted signature store
    (plus within-batch pairs) — incremental corpus dedup: each ingest
    pays O(batch + collisions), never a rescan of corpus text.

    Candidates come from shared (band, bh) buckets exactly as the batch
    operator; verification uses the signature-estimated Jaccard
    (:func:`sig_jaccard_est`) since stored documents exist only as
    signatures. Returns (doc_a, doc_b, est_jaccard), doc_a < doc_b, at
    least one side from the new batch. Call :func:`minhash_store_append`
    AFTER to fold the batch in.

    The candidate join is ``new_bands ⋈ all_bands`` — new-vs-stored plus
    new-vs-new, never stored-vs-stored (those pairs were reported when
    THEIR batch arrived). Cost per ingest is therefore O(batch-side band
    collisions), flat as the store grows; a store self-join post-filtered
    to "one side new" would pay O(total store collisions) every batch —
    quadratic over the store's life.

    ``broadcast_new`` (default True — the micro-batch ingest shape) hints
    the batch-derived side of every store join so the stored artifacts
    are never shuffled: the bands scan streams map-side against a
    broadcast of the batch's bands, and the replay anti-join broadcasts
    the batch ids. Per-ingest network cost is then O(batch), with the
    store touched only as a columnar scan. Set False for giant backfill
    batches that exceed broadcast memory — AQE picks the join strategy.
    """
    spark = new_docs.sparkSession
    # reads validate against the frozen spec too: probing a store with
    # mismatched banding would silently find no candidates
    if not _minhash_store_params(spark, path, num_perm, bands, ngram) and path_exists(
        spark, f"{path}/sigs"
    ):
        # legacy (pre-sidecar) store: backfill the sidecar from this
        # call's spec, first-caller-wins (r11 verdict item 6), so a
        # later mismatched probe raises instead of silently missing —
        # gated on the stored artifacts actually matching this spec
        _legacy_backfill_guard(spark, path, num_perm, bands)
        write_text_sidecar(
            spark, f"{path}/params.json",
            json.dumps(_minhash_spec(num_perm, bands, ngram), sort_keys=True),
        )
    sh = _shingle_sets(new_docs, id_col, text_col, ngram)
    new_sigs = minhash_signatures(sh, num_perm)
    new_bands = _banded(new_sigs, num_perm, bands)
    hint = F.broadcast if broadcast_new else (lambda df: df)
    if path_exists(spark, f"{path}/sigs"):
        old_sigs = spark.read.parquet(f"{path}/sigs")
        old_bands = spark.read.parquet(f"{path}/bands")
        new_ids = new_sigs.select("doc_id")
        old_sigs = old_sigs.join(hint(new_ids), "doc_id", "left_anti")
        old_bands = old_bands.join(hint(new_ids), "doc_id", "left_anti")
        all_sigs = old_sigs.unionByName(new_sigs)
        all_bands = old_bands.unionByName(new_bands)
    else:
        all_sigs, all_bands = new_sigs, new_bands
    cand = (
        hint(new_bands.alias("l"))
        .join(all_bands.alias("r"), ["band", "bh"])
        .filter(F.col("l.doc_id") != F.col("r.doc_id"))
        # least/greatest normalises doc_a < doc_b; new-vs-new collisions
        # arrive twice (both orientations), distinct() absorbs them
        .select(
            F.least(F.col("l.doc_id"), F.col("r.doc_id")).alias("doc_a"),
            F.greatest(F.col("l.doc_id"), F.col("r.doc_id")).alias("doc_b"),
        )
        .distinct()
    )
    sa = all_sigs.withColumnsRenamed({"doc_id": "doc_a", "sig": "sig_a"})
    sb = all_sigs.withColumnsRenamed({"doc_id": "doc_b", "sig": "sig_b"})
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("est_jaccard", sig_jaccard_est(F.col("sig_a"), F.col("sig_b"), num_perm))
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )


def block_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_words: int = 3,
) -> DataFrame:
    """Passage-level (CCNet-style) exact dedup: drop repeated text blocks
    corpus-wide, keeping the FIRST occurrence, and reassemble each
    document from its surviving blocks.

    CCNet/RefinedWeb dedup at the paragraph/line level before any
    document-level pass; the reference pipeline has no analogue (it is
    row-oriented), so this is part of the LLM-curation extension. The
    unit here is a fixed ``block_words``-word block (the corpus carries
    no newline structure), but the shape is the paragraph pipeline:
    explode -> hash -> global first-occurrence -> reassemble.

    Plan (two shuffles, no joins):
      1. blocks are built MAP-SIDE from the token array with
         ``transform(sequence(...), slice(...))`` — no groupBy to form
         blocks, no Python;
      2. first-occurrence-wins is a ``row_number`` over the 60-bit block
         hash ordered by (doc, block index) — plans as WindowGroupLimit,
         so each shuffle partition pre-prunes to one candidate per hash
         before the final rank;
      3. reassembly is a groupBy on the doc id with an order-free
         ``array_sort(collect_list(struct(bidx, blk)))`` fold.

    At 100 TB the dedup shuffle carries (hash, doc_id, bidx) — the block
    TEXT rides along only because the survivor must be re-emitted; for a
    count-only audit drop ``blk`` before the window and the shuffle is
    24 bytes/row. Collision semantics match :func:`exact_dedup` (60-bit
    content hash, collisions conflate — documented trade-off).

    Returns one row per document that retains at least one block:
    (id, n_blocks, n_kept, clean_text).
    """
    return _reassemble_blocks(_batch_firsts(docs, id_col, text_col, block_words), id_col)


def _doc_blocks(
    docs: DataFrame, id_col: str, text_col: str, block_words: int
) -> DataFrame:
    """Explode documents into hashed fixed-word blocks, map-side only:
    (id, n_blocks, bidx, blk, bh)."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n_blocks = F.ceil(F.size(toks) / F.lit(block_words)).cast("long")
    blocks = F.transform(
        F.sequence(F.lit(0), (n_blocks - 1).cast("int")),
        lambda i: F.array_join(F.slice(toks, i * block_words + 1, block_words), " "),
    )
    return (
        docs.filter(F.trim(F.col(text_col)) != "")
        .select(F.col(id_col), n_blocks.alias("n_blocks"), F.posexplode(blocks).alias("bidx", "blk"))
        .withColumn("bh", hash60(F.col("blk")))
    )


def _batch_firsts(
    docs: DataFrame, id_col: str, text_col: str, block_words: int
) -> DataFrame:
    """Within-batch first-occurrence blocks: explode + the row_number
    rank over the block hash (plans as WindowGroupLimit), ordered by
    (doc, block index). The ONE definition of the dedup tiebreak — the
    batch operator, the incremental clean, and the store append all
    share it so their semantics cannot drift apart."""
    blocks = _doc_blocks(docs, id_col, text_col, block_words)
    from pyspark.sql import Window

    w = Window.partitionBy("bh").orderBy(F.col(id_col).asc(), F.col("bidx").asc())
    return blocks.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")


def _drop_stored_hits(firsts: DataFrame, stored: DataFrame, hint) -> DataFrame:
    """Remove blocks whose hash already exists in the store: the store is
    scanned against a (hinted) set of the batch's hashes, and the batch
    anti-joins the resulting hit set — the store side is never shuffled
    when the hint is broadcast."""
    hits = (
        stored.join(hint(firsts.select("bh").distinct()), "bh").select("bh").distinct()
    )
    return firsts.join(hint(hits), "bh", "left_anti")


def _reassemble_blocks(kept: DataFrame, id_col: str) -> DataFrame:
    """Regroup surviving blocks into (id, n_blocks, n_kept, clean_text)
    with an order-free array_sort fold."""
    return kept.groupBy(id_col).agg(
        F.first("n_blocks").alias("n_blocks"),
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("bidx", "blk"))),
                lambda s: s["blk"],
            ),
            " ",
        ).alias("clean_text"),
    )


def incremental_block_dedup(
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_words: int = 3,
    broadcast_new: bool = True,
    firsts: DataFrame | None = None,
) -> DataFrame:
    """Clean a NEW batch of documents against a persisted block-hash
    store — the growing-corpus half of passage-level dedup: each ingest
    pays O(batch + one store scan), the corpus text is never re-read.

    Within-batch first-occurrence runs first (same window as
    :func:`block_dedup`), then blocks whose hash is already in the store
    are dropped. The store is NEVER shuffled: hits are computed as
    ``store ⋈ broadcast(batch hashes)`` — a map-side columnar scan — and
    the batch then anti-joins the broadcast hit set (bounded by the
    batch's own block count). With the store compacted and sorted by
    ``bh`` (see :func:`block_store_append`), parquet row-group stats
    prune most of that scan too.

    Replay-safe: store rows owned by the batch's own ids are excluded
    before the hit join, so a crashed-and-replayed batch (whose blocks
    already landed in the store) still cleans identically.

    ``broadcast_new`` (default True — the micro-batch ingest shape)
    hints every batch-derived join side so the store is only ever
    scanned, never shuffled. Set False for backfill batches whose block
    set exceeds broadcast memory — AQE then picks the join strategy
    (the store pays one shuffle, still no rescan of corpus text).

    ``firsts`` lets a caller that ALSO appends (the streaming sink) pass
    the batch's precomputed within-batch firsts so the explode+window
    runs once per batch, not once per consumer.
    """
    spark = new_docs.sparkSession
    hint = F.broadcast if broadcast_new else (lambda df: df)
    if firsts is None:
        firsts = _batch_firsts(new_docs, id_col, text_col, block_words)
    if path_exists(spark, f"{path}/blocks"):
        store = spark.read.parquet(f"{path}/blocks")
        batch_ids = new_docs.select(F.col(id_col)).distinct()
        store = store.join(hint(batch_ids), id_col, "left_anti")
        firsts = _drop_stored_hits(firsts, store, hint)
    return _reassemble_blocks(firsts, id_col)


def block_store_append(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_words: int = 3,
    broadcast_new: bool = True,
    firsts: DataFrame | None = None,
) -> None:
    """Fold a batch's block hashes into the persisted store.

    Artifacts (parquet, append-only): ``blocks`` (bh, doc_id, bidx — the
    hash plus first-owner provenance, ~24 bytes per block) and ``docs``
    (doc_id) as the replay guard. Write ORDER is load-bearing, same
    contract as :func:`minhash_store_append`: blocks first, docs second,
    guard anti-joins docs — a crash between the appends re-appends
    duplicate block rows on replay (absorbed by the hit join's set
    semantics), while the reverse order would silently lose blocks.

    Only the batch's KEPT blocks are appended (within-batch firsts not
    already stored): duplicates add no membership information, so the
    store grows by distinct corpus blocks, not corpus size.
    ``broadcast_new`` and ``firsts`` as in
    :func:`incremental_block_dedup`. A precomputed ``firsts`` from the
    FULL batch is equivalent to recomputing on the unseen subset: a
    block whose in-batch first owner was already appended is in the
    store (either appended under that owner or dropped as a hit when its
    batch ran), so the hit anti-join removes it either way.
    """
    spark = docs.sparkSession
    hint = F.broadcast if broadcast_new else (lambda df: df)
    new_ids = docs.select(id_col).distinct()
    had_docs = path_exists(spark, f"{path}/docs")
    if had_docs:
        seen = spark.read.parquet(f"{path}/docs")
        new_ids = new_ids.join(seen, id_col, "left_anti")
    if firsts is None:
        firsts = _batch_firsts(
            docs.join(hint(new_ids), id_col, "left_semi"), id_col, text_col, block_words
        )
    else:
        firsts = firsts.join(hint(new_ids), id_col, "left_semi")
    had_blocks = path_exists(spark, f"{path}/blocks")
    if had_blocks:
        stored = spark.read.parquet(f"{path}/blocks")
        firsts = _drop_stored_hits(firsts, stored, hint)
    # the checkpoints break the plans' lineage on {path}/docs and
    # {path}/blocks before appending to those same paths — load-bearing
    # ONLY when the store existed to be read (a first append has no such
    # lineage, and each eager checkpoint is a full extra job)
    ids = new_ids.localCheckpoint(eager=True) if had_docs else new_ids
    out = firsts.select("bh", id_col, "bidx")
    if had_blocks:
        out = out.localCheckpoint(eager=True)
    out.write.mode("append").parquet(f"{path}/blocks")
    ids.write.mode("append").parquet(f"{path}/docs")


def repeated_span_scrub(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 6,
    min_df: int = 2,
) -> DataFrame:
    """Cross-document repeated-SPAN removal — exact substring dedup in
    the Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better") sense, the op the repo's other detectors don't do:
    they DROP whole near-duplicate documents; this SCRUBS the repeated
    spans and keeps the rest. Any k-token window occurring >= ``min_df``
    times across the corpus (including within one document) is removed
    from every document carrying it; the survivors re-join in order.

    Plan (all JVM expressions, one shuffle pair):

    1. tokenize per row (map-only), emit each k-token shingle with its
       1-based start position;
    2. global shingle df (hash aggregate — THE shuffle; at 100 TB the
       shingle key is what you'd also hash for minhash, same scale);
    3. semi-join occurrences to the repeated set (same shuffle key),
       fold each doc's repeated starts into a covered-position set;
    4. left-join covered back to docs and filter each token list by
       position — per-row array expressions, no Python.

    Token positions are filtered with ``array_contains`` against the
    covered set, O(L * covered) per doc — fine for bounded-length
    documents (the 100 TB contract everywhere in this repo: documents
    are row-sized, corpora are what scale). Docs shorter than ``k``
    tokens have no shingles and pass through intact (the start sequence
    is guarded — Spark's ``sequence(1, 0)`` is DESCENDING, the
    text_bpe_pairs pitfall). Returns ``id_col``, ``n_tokens``,
    ``n_kept``, ``cleaned`` (the scrubbed text, single-spaced).
    """
    # ONE tokenize pass and ONE shingle-explode pass (r14, the r13
    # text-index lesson applied here): `base` feeds three plan branches
    # (the df aggregate, the covered fold, the final re-join) and `occ`
    # two — Catalyst does not share common subtrees across join
    # branches, so left lazy the single action tokenizes the corpus
    # three times and explodes it twice. Checkpointing each once makes
    # every branch read the materialized frame; at 100 TB the saved
    # passes are the dominant scrub cost exactly as they were for the
    # text-index build.
    base = _span_token_table(docs, id_col, text_col).localCheckpoint(eager=True)
    occ = _span_occurrences(base, id_col, k).localCheckpoint(eager=True)
    repeated = (
        occ.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= min_df)
        .select("shingle")
    )
    return _scrub_with_repeated(base, occ, repeated, id_col, k)


def _span_token_table(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    # coalesce BEFORE size/transform: a NULL text would otherwise ripple
    # into size(NULL) = -1 under legacy sizeOfNull and a NULL cleaned
    # column, breaking the 0 <= n_kept <= n_tokens invariant and
    # diverging from the oracle's NULL-as-empty handling
    toks = F.coalesce(
        F.filter(
            F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
            lambda t: t != F.lit(""),
        ),
        F.array().cast("array<string>"),
    )
    return docs.select(F.col(id_col), toks.alias("toks"))


def _span_occurrences(base: DataFrame, id_col: str, k: int) -> DataFrame:
    """Every k-token window with its 1-based start position — the start
    sequence is guarded (Spark's ``sequence(1, 0)`` is DESCENDING)."""
    n = F.size("toks")
    starts = F.when(
        n >= k, F.sequence(F.lit(1), n - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    return base.select(
        id_col,
        F.explode(
            F.transform(
                starts,
                lambda i: F.struct(
                    i.alias("start"),
                    F.array_join(F.slice("toks", i, k), " ").alias("shingle"),
                ),
            )
        ).alias("s"),
    ).select(id_col, "s.start", "s.shingle")


def _scrub_with_repeated(
    base: DataFrame, occ: DataFrame, repeated: DataFrame, id_col: str, k: int
) -> DataFrame:
    covered = (
        occ.join(repeated, "shingle", "left_semi")
        .groupBy(id_col)
        .agg(
            F.array_distinct(
                F.flatten(
                    F.collect_list(F.sequence(F.col("start"), F.col("start") + (k - 1)))
                )
            ).alias("covered")
        )
    )
    cov = F.coalesce(F.col("covered"), F.array().cast("array<int>"))
    kept = F.filter(
        F.transform(
            "toks",
            lambda t, i: F.struct((i + 1).cast("int").alias("p"), t.alias("t")),
        ),
        lambda s: ~F.array_contains(cov, s["p"]),
    )
    return (
        base.join(covered, id_col, "left")
        .select(
            id_col,
            F.size("toks").alias("n_tokens"),
            F.size(kept).alias("n_kept"),
            F.array_join(F.transform(kept, lambda s: s["t"]), " ").alias("cleaned"),
        )
    )


def span_store_ingest_scrub(
    docs: DataFrame,
    path: str,
    batch_key: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 6,
    min_df: int = 2,
) -> DataFrame:
    """Incremental exact-substring dedup — the persisted twin every
    other dedup family here already has (minhash / block / decontam /
    CC stores): a span-frequency store maintained batch-by-batch, each
    batch scrubbed against the corpus df AS OF its own ingest.

    Semantics (the streaming-crawl contract, matching
    :func:`incremental_block_dedup`'s first-occurrence-wins): an
    occurrence in batch b is covered iff its shingle's cumulative df
    over batches 1..b reaches ``min_df`` — a span's FIRST occurrence
    survives (unless its own batch repeats it); every later occurrence
    scrubs. Batch order is the store's ingest history, so the result is
    deterministic given the batching (and SQL-expressible via a
    cumulative window over per-batch counts, which is how the oracle
    pins it). Full-corpus one-shot scrubbing
    (:func:`repeated_span_scrub`) is strictly MORE aggressive — it also
    removes the first occurrence retroactively; an incremental store
    cannot un-emit history, so first-wins is the honest contract.

    Mechanics: the store IS a matview keyed by shingle
    (``operators/matview.py`` — per-batch count partials, batch-key
    replay guard, crash-safe compaction all inherited for free; a
    replayed batch key returns the batch scrubbed against the CURRENT
    store without double-counting it). Ingest is O(batch): one grouped
    count of the batch's shingles appended as a partial. The scrub read
    joins the batch's occurrences to the store partials on shingle —
    at 100 TB the store would be bucketed by shingle so this join
    co-locates; posting reads are confined to the batch's shingle set
    either way (Catalyst pushes the join's key filter into the
    partials scan at the row-group level via min/max once bucketed).
    """
    from activecampaign_api_data_pipeline_spark.operators.matview import (
        append_matview,
        build_matview,
        load_matview_params,
    )
    from activecampaign_api_data_pipeline_spark.storage import path_exists

    spark = docs.sparkSession
    base = _span_token_table(docs, id_col, text_col).localCheckpoint(eager=True)
    # one shingle-explode pass per ingest (r14): `occ` feeds the count
    # append, the batch-shingle probe AND the covered fold — three plan
    # branches that would each re-explode the checkpointed tokens;
    # batch-sized either way, so materializing it is the O(batch) cost
    # the ingest already pays once
    occ = _span_occurrences(base, id_col, k).localCheckpoint(eager=True)
    # constant measure: the scrub only ever reads n_rows, and the
    # shingle-keyed store is the highest-cardinality store in the repo —
    # min/max/sum of token positions would be three dead bigints per row
    counts = occ.select(F.col("shingle"), F.lit(1).alias("m"))
    if not path_exists(spark, f"{path}/params.json"):
        # freeze the shingle spec in the sidecar (r10 advice): a later
        # ingest with a different k would silently mix incompatible
        # shingle lengths into one history; a different min_df would
        # change what "repeated" meant for already-emitted batches
        build_matview(
            counts, path, ["shingle"], "m", batch_key=batch_key,
            extra_params={"span_k": int(k), "span_min_df": int(min_df)},
        )
    else:
        frozen = load_matview_params(spark, path)
        if (frozen.get("span_k"), frozen.get("span_min_df")) != (k, min_df):
            raise ValueError(
                f"span store at {path} was built with k={frozen.get('span_k')}"
                f" min_df={frozen.get('span_min_df')}; ingest passed"
                f" k={k} min_df={min_df} — the spec is frozen at build"
            )
        append_matview(counts, path, batch_key)
    # confine the df aggregate to the BATCH's shingle set before the
    # group-sum: `repeated` is only ever consumed via a semi-join with
    # the batch occurrences, so semi-joining the partials scan first is
    # result-identical and keeps per-ingest read cost O(batch shingles ×
    # matching store rows), not O(store) — with the store bucketed by
    # shingle at real scale the probe co-locates
    batch_shingles = occ.select("shingle").distinct()
    repeated = (
        spark.read.parquet(f"{path}/partials")
        .join(batch_shingles, "shingle", "left_semi")
        .groupBy("shingle")
        .agg(F.sum("n_rows").alias("df"))
        .filter(F.col("df") >= min_df)
        .select("shingle")
    )
    return _scrub_with_repeated(base, occ, repeated, id_col, k)
