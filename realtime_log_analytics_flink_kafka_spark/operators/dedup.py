"""Deduplication operators for training-data pipelines: exact, MinHash+LSH,
SimHash, n-gram Jaccard.

Scale design (the point of each):

- **exact**: hash-groupBy — one shuffle on the normalized-text hash; at
  100 TB, group keys are 16-byte digests, never the documents themselves.
- **minhash_lsh**: shingle -> k min-hashes -> band buckets -> equi-join on
  (band, bucket).  Candidate generation is an equi-join (shuffle on bucket
  key), NOT an O(n^2) cross join; only bucket-colliding pairs pay the
  exact-Jaccard verification.
- **simhash**: 32-bit fingerprint; candidate pairs must share one of 4
  8-bit chunks (pigeonhole: hamming<=3 over 4 chunks forces an equal
  chunk), again an equi-join.
- **ngram_jaccard**: the exact verifier, also usable standalone on small
  candidate sets.

Everything is built-in expressions (explode/groupBy/array ops); hashing is
md5-folded for DuckDB-oracle parity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import HASH_PRIME, affine_hashes, md5_long
from ..functions.detmath import exact_round_div, int_div
from ..functions.textnorm import WS_REGEX, ascii_lower
from .text import ws_tokens

#: MinHash signature size and banding (k = bands * rows_per_band).
#: 4 bands x 4 rows: candidate probability 1-(1-j^4)^4 — steep around
#: j~0.5, so few low-similarity false candidates reach verification.
MINHASH_K = 16
LSH_BANDS = 4
LSH_ROWS = 4

#: SimHash chunking: 32-bit fingerprint, 4 chunks of 8 bits.
SIMHASH_BITS = 32
SIMHASH_CHUNKS = 4
SIMHASH_MAX_HAMMING = 3


def normalized_text(col: Column) -> Column:
    """ASCII-lowercase, collapse whitespace (explicit separator class),
    trim — the exact-dedup key.  textnorm primitives, not ``lower``/
    ``\\s``, so the key is cross-engine exact (see functions/textnorm)."""
    return F.trim(F.regexp_replace(ascii_lower(col), WS_REGEX, " "))


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Group by normalized-text digest; emit one row per distinct text with
    the canonical (min) doc_id and the duplicate count."""
    return (
        docs.select("doc_id", F.md5(normalized_text(F.col(text_col))).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def shingle_strings(docs: DataFrame, text_col: str = "text",
                    n: int = 3, *,
                    carry_cols: tuple[str, ...] = ()) -> DataFrame:
    """doc_id -> exploded n-token shingle STRING (the pre-hash layer).

    Shingles via sequence+slice (pure Catalyst); docs shorter than n
    tokens drop out, matching the oracle.  ``carry_cols`` are projected
    through unchanged (e.g. ``("source",)``) so group-keyed consumers
    don't need a per-occurrence join back to the documents table.

    The token array is materialized in its own projection first: if the
    tokenizer expression (regex split + filter HOF) were inlined inside
    the ``transform`` lambda, interpreted HOF evaluation would re-run it
    once per shingle index — O(tokens^2) regex work per document.
    CollapseProject leaves the projection alone (non-cheap expression
    referenced more than once), so tokenization runs once per row.
    """
    toked = docs.select("doc_id", *carry_cols,
                        ws_tokens(F.col(text_col)).alias("_toks"))
    toks = F.col("_toks")
    sh = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # short docs yield an empty array, which explode() drops — same rows
    # as a size()>=n filter but without a second tokenizer evaluation
    # (predicate pushdown would substitute the alias into the filter).
    return toked.select("doc_id", *carry_cols, F.explode(sh).alias("shingle"))


def shingle_hashes(docs: DataFrame, text_col: str = "text",
                   n: int = 3) -> DataFrame:
    """doc_id -> exploded n-token shingle hash (mod HASH_PRIME); see
    :func:`shingle_strings` for the shingle construction contract."""
    return shingle_strings(docs, text_col, n).select(
        "doc_id", (md5_long(F.col("shingle")) % HASH_PRIME).alias("h"))


def shingle_sets(docs: DataFrame, text_col: str = "text",
                 n: int = 3) -> DataFrame:
    """doc_id -> distinct shingle-hash set (the exact-Jaccard input)."""
    return (
        shingle_hashes(docs, text_col, n)
        .groupBy("doc_id")
        .agg(F.collect_set("h").alias("hset"))
    )


def minhash_sketch(docs: DataFrame, text_col: str = "text",
                   n: int = 3) -> DataFrame:
    """doc_id -> (hset, mh0..mh{k-1}) in ONE aggregation pass.

    The k signature values are ``min((a*h+b) % P)`` *aggregates* over the
    exploded shingle hashes, computed alongside ``collect_set`` in the
    same groupBy: min gets map-side partial aggregation and whole-stage
    codegen, where the previous formulation (``array_min(transform(hset,
    ...))`` per k) paid k interpreted higher-order passes over every
    doc's hash array — and paid them once per plan subtree that scanned
    the signatures (twice, through the LSH self-join).  min over the
    multiset equals min over the distinct set, so the signatures are
    unchanged.
    """
    return (
        shingle_hashes(docs, text_col, n)
        .groupBy("doc_id")
        .agg(
            F.collect_set("h").alias("hset"),
            *[F.min((F.lit(a) * F.col("h") + F.lit(b)) % HASH_PRIME)
                .alias(f"mh{i}")
              for i, (a, b) in enumerate(affine_hashes(MINHASH_K))],
        )
    )


def minhash_signatures(docs: DataFrame, text_col: str = "text",
                       n: int = 3) -> DataFrame:
    """One row per doc: k min-hash signature columns."""
    return minhash_sketch(docs, text_col, n).drop("hset")


def lsh_band_buckets(sigs: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh{k-1}, ...) -> exploded (doc_id, band, bucket):
    each band's bucket key is the concat of its ``LSH_ROWS`` min-hashes.
    Shared by the self-join pair generator and the incremental
    (batch-vs-corpus) flagger, so both sides of any LSH join bucket
    identically."""
    band_structs = []
    for band in range(LSH_BANDS):
        cols = [F.col(f"mh{band * LSH_ROWS + r}") for r in range(LSH_ROWS)]
        band_structs.append(F.struct(
            F.lit(band).alias("band"),
            F.concat_ws("_", *[c.cast("string") for c in cols]).alias("bucket"),
        ))
    return sigs.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("b")
    ).select("doc_id", "b.band", "b.bucket")


def lsh_candidate_pairs(sketch: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh{k-1}, ...) -> distinct candidate (doc_a, doc_b)
    pairs sharing at least one LSH band bucket (doc_a < doc_b).  The
    shared candidate generator behind pair verification
    (:func:`minhash_lsh_pairs`) and estimator calibration
    (queries/pipeline.q_minhash_accuracy): an equi-join on
    (band, bucket) — only colliding documents ever meet, never the
    n² cross product."""
    banded = lsh_band_buckets(sketch)
    x, y = banded.alias("x"), banded.alias("y")
    return (
        x.join(y, (F.col("x.band") == F.col("y.band"))
               & (F.col("x.bucket") == F.col("y.bucket"))
               & (F.col("x.doc_id") < F.col("y.doc_id")))
        .select(F.col("x.doc_id").alias("doc_a"),
                F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_lsh_pairs(docs: DataFrame, text_col: str = "text", *,
                      n: int = 3, threshold: float = 0.4) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, exact-Jaccard verified.

    band bucket = concat of the band's min-hashes; candidates are pairs
    sharing any band bucket; verification joins each side's distinct
    shingle-hash set and computes exact Jaccard.

    The sketch aggregate (hset + signatures in one pass) feeds four plan
    subtrees (two self-join sides twice).  It is localCheckpointed so
    the shingle scan + sketch aggregation run ONCE instead of four
    times, which is the 100 TB design: checkpoint the sketch between
    the signature and verification stages rather than re-scanning the
    corpus 4x.  The eager barrier also gives the composed consumers
    (the agreement/detector/cluster family) a materialized leg they can
    build concurrently with their other leg (scale.par_build).
    """
    sets = minhash_sketch(docs, text_col, n).localCheckpoint()

    cand = lsh_candidate_pairs(sets)

    a, b = sets.alias("a"), sets.alias("b")
    inter = F.size(F.array_intersect(F.col("a.hset"), F.col("b.hset")))
    union = F.size(F.col("a.hset")) + F.size(F.col("b.hset")) - inter
    return (
        cand.join(a, cand.doc_a == F.col("a.doc_id"))
        .join(b, cand.doc_b == F.col("b.doc_id"))
        .select(
            "doc_a", "doc_b",
            # exact BIGINT rounding, not round(double): cross-engine
            # exact on half-boundary quotients (functions/detmath)
            exact_round_div(inter, union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text", *,
                        n: int = 3, threshold: float = 0.2,
                        block_col: str = "lang") -> DataFrame:
    """Exact n-gram Jaccard within blocking-key groups (here: language),
    via the shared-shingle equi-join: |A∩B| comes from self-joining the
    exploded (doc, shingle-hash) relation on the hash, so pairs with no
    common shingle never materialize at all.

    Cost is Σ_s d_s² over per-shingle doc-frequencies — at 100 TB this is
    the scalable formulation (equi-join + count aggregation; hot
    shingles are ordinary join skew, handled by AQE/salting), where the
    block-cross-join with per-pair array intersects is quadratic in block
    size regardless of actual overlap.
    """
    sh = (
        shingle_hashes(docs, text_col, n)
        .join(docs.select("doc_id", block_col), "doc_id")
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"),
                 F.col(f"a.{block_col}").alias(block_col))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(F.broadcast(sa), "doc_a").join(F.broadcast(sb), "doc_b")
        .select(
            "doc_a", "doc_b", block_col,
            exact_round_div(
                F.col("inter"),
                F.col("sz_a") + F.col("sz_b") - F.col("inter"))
                .alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def prefix_jaccard_pairs(docs: DataFrame, text_col: str = "text", *,
                         n: int = 3, t_num: int = 1,
                         t_den: int = 5) -> DataFrame:
    """EXACT Jaccard ≥ t self-join via prefix filtering (the
    AllPairs/PPJoin candidate scheme, Xiao et al., WWW'08) — the
    guaranteed-complete alternative to MinHash-LSH (probabilistic
    recall) and to the shared-shingle join (``ngram_jaccard_pairs``,
    which joins on EVERY common shingle, cost Σ_s d_s²).

    Scheme: order each doc's shingle set by ascending global document
    frequency (rarest first, hash tiebreak — a deterministic total
    order both engines reproduce); two sets with Jaccard ≥ t MUST share
    a shingle within their first ``sz − ⌈t·sz⌉ + 1`` entries (else the
    overlap bound fails), so the candidate join only touches prefix
    rows — hot shingles land in late positions and never generate
    candidates.  A length filter (``t·max(szA,szB) ≤ min``) prunes
    further; survivors verify EXACTLY via sorted-set intersection.

    Determinism: the threshold is the rational ``t_num/t_den`` and every
    filter is an integer cross-multiplication — no float compare
    anywhere; the reported jaccard is detmath.exact_round_div.

    Scale: df table and prefix selection are map-side-combinable
    aggregations + a per-doc window (per-doc shingle count is bounded
    by document length); the candidate join is an equi-join on rare
    hashes; verification joins the bounded per-doc hash arrays on the
    candidate pairs only.
    """
    from pyspark.sql import Window

    # the distinct shingle relation feeds FOUR plan branches (sizes, df,
    # the ordered prefix, and the verification arrays) — materialize it
    # so the tokenize+shingle+md5 scan runs once, not four times
    # (measured 11.2 s -> 3.9 s at sf0.1 when this was a persist; r12
    # switches to localCheckpoint, which also truncates the corpus-scale
    # lineage out of every downstream plan; at 100 TB: checkpoint to
    # storage)
    sh = shingle_hashes(docs, text_col, n).distinct().localCheckpoint()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    df_h = sh.groupBy("h").agg(F.count("*").alias("df"))
    ordered = (
        sh.join(df_h, "h").join(sizes, "doc_id")
        .withColumn("pos", F.row_number().over(
            Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("h"))))
    )
    # prefix length = sz − ceil(t·sz) + 1, all-integer
    ceil_t_sz = int_div(F.col("sz") * t_num + F.lit(t_den - 1),
                        F.lit(t_den))
    # materialized (r12): the prefix relation feeds BOTH candidate-join
    # sides — without the barrier the df join + per-doc rank window ran
    # twice.  Prefix rows are a small fraction of sh.
    pre = ordered.filter(F.col("pos") <= F.col("sz") - ceil_t_sz + 1) \
                 .select("doc_id", "h", "sz").localCheckpoint()
    a, b = pre.alias("a"), pre.alias("b")
    cand = (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .filter(F.greatest(F.col("a.sz"), F.col("b.sz")) * t_num
                <= F.least(F.col("a.sz"), F.col("b.sz")) * t_den)
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.sz").alias("sz_a"), F.col("b.sz").alias("sz_b"))
        .distinct()
    )
    hsets = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("h")).alias("hset"))
    ha = hsets.select(F.col("doc_id").alias("doc_a"),
                      F.col("hset").alias("hset_a"))
    hb = hsets.select(F.col("doc_id").alias("doc_b"),
                      F.col("hset").alias("hset_b"))
    # r13 negative results, recorded (VERDICT r12 #5): (a) replacing the
    # rank window above with a groupBy + array_sort(collect_list(struct))
    # + slice prefix selection measured SLOWER (3.7 vs 3.1 s interleaved
    # at sf0.1) — the window was never the bottleneck, the verify join
    # below is; (b) F.broadcast hints on ha/hb measured a wash-to-loss
    # in the full query (3.37/3.63 vs 3.18/2.87 interleaved): the two
    # broadcast builds serialize ahead of the join stage, while the
    # shuffled plan overlaps everything.  Shape kept as r12.
    verified = (
        cand.join(ha, "doc_a").join(hb, "doc_b")
        .withColumn("inter",
                    F.size(F.array_intersect("hset_a", "hset_b"))
                    .cast("long"))
        .withColumn("uni", F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        .filter(F.col("inter") * t_den >= F.col("uni") * t_num)
    )
    return verified.select(
        "doc_a", "doc_b", "inter", "uni",
        exact_round_div(F.col("inter"), F.col("uni")).alias("jaccard"),
    )


def simhash_fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """32-bit SimHash per doc: each token hash votes +-1 on each bit."""
    tok = (
        docs.select("doc_id",
                    F.explode(ws_tokens(F.col(text_col))).alias("t"))
        .select("doc_id", md5_long(F.col("t")).alias("h"))
    )
    votes = tok.groupBy("doc_id").agg(*[
        F.sum(
            F.when(F.shiftright(F.col("h"), bit).bitwiseAND(F.lit(1)) == 1,
                   F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"v{bit}")
        for bit in range(SIMHASH_BITS)
    ])
    sim = None
    for bit in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{bit}") > 0, F.lit(1 << bit)).otherwise(F.lit(0)).cast("long")
        sim = term if sim is None else sim + term
    return votes.select("doc_id", sim.alias("simhash"))


def simhash_pairs(docs: DataFrame, text_col: str = "text", *,
                  max_hamming: int = SIMHASH_MAX_HAMMING) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, chunk-bucketed:
    hamming <= 3 over 4 chunks implies at least one identical 8-bit chunk
    (pigeonhole), so candidates come from 4 equi-joins, not a cross join.

    The fingerprint aggregate feeds both self-join sides; it is
    localCheckpointed so the token explode + 32-bit vote aggregation
    run ONCE, which matches the 100 TB design of checkpointing
    fingerprints between the sketch and pairing stages and lets the
    composed consumers build this leg concurrently with the MinHash leg
    (scale.par_build)."""
    fps = simhash_fingerprints(docs, text_col).localCheckpoint()
    chunked = fps.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright(F.col("simhash"), 8 * c).bitwiseAND(F.lit(255))
                    .alias("ckey"),
            )
            for c in range(SIMHASH_CHUNKS)
        ])).alias("b"),
    ).select("doc_id", "simhash", "b.chunk", "b.ckey")
    x, y = chunked.alias("x"), chunked.alias("y")
    hamming = F.bit_count(F.expr("x.simhash ^ y.simhash"))
    # the hamming bound rides in the join condition: it runs as the
    # join's post-probe filter, so far-apart chunk collisions are dropped
    # before the distinct's shuffle ever sees them
    return (
        x.join(y, (F.col("x.chunk") == F.col("y.chunk"))
               & (F.col("x.ckey") == F.col("y.ckey"))
               & (F.col("x.doc_id") < F.col("y.doc_id"))
               & (hamming <= max_hamming))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
    )


def duplicate_components(pairs: DataFrame, *, left_col: str = "doc_a",
                         right_col: str = "doc_b",
                         max_iters: int = 20) -> DataFrame:
    """Connected components over near-dup pairs: every doc that appears
    in any pair gets a ``cluster_id`` = the smallest doc id reachable
    through the pair graph (transitive closure).

    This is the step after pair generation in a real dedup pipeline —
    greedy pair-wise removal (``near_dup_survivors``) over-drops chains
    (a~b, b~c, a!~c drops b AND c); component-wise you keep exactly one
    doc per cluster.

    Pregel-style min-label propagation WITH pointer jumping: each round
    every node takes the min of its own label and its neighbors' labels
    (one equi-join + one groupBy), then shortcuts through its label's
    label (``label[v] := label[label[v]]`` — a 1:1 self-join, no
    aggregate).  Neighbor propagation alone converges in O(component
    diameter) rounds; the path-doubling shortcut compresses chains
    exponentially, so convergence is O(log diameter) — measured 6 -> 3
    rounds on the sf0.1 embedding near-dup graph, and the difference
    between feasible and not on a 100 TB graph with long chain
    components (band-bucket cliques have tiny diameter, but
    transitively-chained near-dups do not).  The shortcut is sound
    because labels start as own-ids and only decrease: ``label[v]`` is
    always a node id whose own label is <= it, so jumping never skips
    past the component minimum.  Each round ``localCheckpoint``s to
    truncate lineage — executor-local, non-replicated blocks: an
    executor loss mid-query fails (and retries) the job rather than
    recomputing; see README "Scale design" for the trade and the
    ``setCheckpointDir`` + ``checkpoint()`` escape hatch for cluster
    deployments.  Convergence is detected via the label sum — labels only
    ever decrease, so an unchanged sum means a fixed point.  Raises if
    ``max_iters`` rounds don't converge rather than returning
    silently-partial clusters.
    """
    from pyspark.sql import Observation

    half = pairs.select(F.col(left_col).alias("src"),
                        F.col(right_col).alias("dst"))
    edges = half.union(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()

    # fused round 0 (r12): with labels initialized to own ids, the first
    # propagation round computes exactly min(node, min neighbor id) —
    # so start THERE, folding the old init (distinct + identity labels +
    # baseline-sum job) and the first round into one aggregation.
    # r13: the label sum rides the checkpoint job as an observed metric
    # (CollectMetrics is a pass-through node computed while the rows
    # stream into the checkpoint), so the old separate
    # ``agg(sum).first()`` probe job disappears — here and once per
    # round below.  Profiling showed each round is a fixed-cost DRIVER
    # job (codegen + AQE scheduling dwarf the tiny shuffles), so
    # halving the jobs per round halves the loop.
    obs0 = Observation()
    labels = (edges.groupBy(F.col("src").alias("node"))
              .agg(F.min(F.least("src", "dst")).alias("label"))
              .observe(obs0, F.sum("label").alias("s"))
              .localCheckpoint())
    prev_sum = obs0.get["s"]

    for _ in range(max_iters):
        # r13: TWO propagation steps per materialized round (VERDICT r12
        # #2 — the round floor is fixed driver cost: codegen + AQE
        # scheduling per job, not the tiny shuffles, so folding more
        # logical steps into each checkpoint job cuts the loop by its
        # round count; measured 6 -> 4 rounds on the sf0.1 SimHash
        # graph with CHEAPER rounds).  Each step is min(labels ∪
        # prop(labels)) — monotone elementwise — so an unchanged sum
        # across the folded round still forces the FIRST step to be the
        # identity, i.e. propagation-stable, the same fixed-point
        # witness as one step per round.  (An inner pointer jump
        # between the two steps was measured SLOWER: it deepens the
        # round plan with two self-joins of a non-materialized
        # aggregate; the double jump stays where it was, folded lazily
        # between rounds over the checkpointed table.)
        cur = labels
        for _ in range(2):
            prop = (edges.join(cur, edges["src"] == cur["node"])
                    .select(F.col("dst").alias("node"), "label"))
            cur = (cur.union(prop).groupBy("node")
                   .agg(F.min("label").alias("label")))
        # checkpoint BEFORE the shortcut self-joins: stepped feeds both
        # sides of each jump, and the shortcuts over the materialized
        # table are tiny scans inside the NEXT round's checkpoint job
        obs = Observation()
        stepped = (cur.observe(obs, F.sum("label").alias("s"))
                   .localCheckpoint())
        # convergence probe on STEPPED (r12; was on the post-jump labels,
        # which re-executed the jump join once under the agg and again
        # inside the next round's plan).  Equivalent stop: labels only
        # decrease elementwise and stepped is propagation-stable when
        # its sum is unchanged, which on symmetrized edges forces a
        # per-component constant label = the component minimum — i.e.
        # stepped itself IS the converged table, so the loop returns it
        # directly (the old post-loop jump is the identity there).
        cur_sum = obs.get["s"]
        if cur_sum == prev_sum:
            labels = stepped
            break
        prev_sum = cur_sum
        # DOUBLE pointer jump (r12; was single): label := label[label]
        # applied twice per round quarters the distance-to-root, so the
        # loop converges in about half the rounds — and each round is a
        # fixed-cost driver job (fresh codegen + AQE scheduling dwarf
        # the tiny shuffles), so rounds ARE the cost.  Lazy: both jumps
        # are broadcast-sized joins over the checkpointed stepped table,
        # executed once inside the next round's checkpoint job.  Sound
        # for the same reason as one jump: labels are node ids whose own
        # label never exceeds them, so shortcutting never passes the
        # component minimum.
        x, y = stepped.alias("x"), stepped.alias("y")
        j1 = (x.join(y, F.col("x.label") == F.col("y.node"))
              .select(F.col("x.node").alias("node"),
                      F.col("y.label").alias("label")))
        z = stepped.alias("z")
        labels = (j1.alias("p")
                  .join(z, F.col("p.label") == F.col("z.node"))
                  .select(F.col("p.node").alias("node"),
                          F.col("z.label").alias("label")))
    else:
        raise RuntimeError(
            f"duplicate_components did not converge in {max_iters} rounds")

    # the returned table is the just-checkpointed stepped relation, so
    # every consumer (ARI reads it 8x, modularity 3x, cluster windows
    # 2x) scans a materialized id-sized table instead of re-running the
    # propagation plan.
    return labels.select(F.col("node").alias("doc_id"),
                         F.col("label").alias("cluster_id"))


def adjusted_rand_index(ca: DataFrame, cb: DataFrame) -> DataFrame:
    """Adjusted Rand index between two clusterings of (partially
    overlapping) document sets — the partition-level agreement score
    between two dedup detectors (pair-level calibration says each is
    close to exact Jaccard; this says whether they draw the same
    PARTITION, which is what survivor selection consumes).

    Inputs are two ``(doc_id, cluster_id)`` relations; the statistic is
    computed over their UNION universe, a doc missing from one side
    counting as its own singleton there.

    Scale shape: a coalesce join on doc id, one contingency aggregation
    keyed by (cluster_a, cluster_b), two marginal aggregations, and
    three SANCTIONED single-row broadcasts assembling the scalar — no
    window, no sort, one output row.

    Determinism: all pair counts are exact BIGINT combinatorics
    (n·(n−1)/2 via int_div); sa·sb would overflow int64 on a 10⁵-doc
    graph, so the expected-index term is computed in doubles as the
    identical DAG in both dialects.  den = 0 implies num = 0 (sa = sb
    = 0 forces sij = 0; sa = sb = C(n,2) forces sij = C(n,2)), and
    that degenerate perfect agreement reports ARI = 1.
    """
    ca = ca.select("doc_id", F.col("cluster_id").alias("_ca"))
    cb = cb.select("doc_id", F.col("cluster_id").alias("_cb"))
    univ = ca.select("doc_id").unionAll(cb.select("doc_id")).distinct()
    # localCheckpoint (r12): the labeled-universe relation feeds FOUR
    # aggregation branches (contingency, both marginals, n) — without
    # the barrier each branch re-ran the universe union + both coalesce
    # joins (and whatever pipelines produced ca/cb).  Node-sized.
    j = (univ.join(ca, "doc_id", "left").join(cb, "doc_id", "left")
         .select(F.coalesce("_ca", "doc_id").alias("ca"),
                 F.coalesce("_cb", "doc_id").alias("cb"))
         .localCheckpoint())

    def pairs2(c: Column) -> Column:
        return F.sum(int_div(c * (c - 1), F.lit(2))).cast("long")

    cont = j.groupBy("ca", "cb").agg(F.count("*").cast("long").alias("nij"))
    sij = cont.agg(pairs2(F.col("nij")).alias("sij"))
    sa = (j.groupBy("ca").agg(F.count("*").cast("long").alias("c"))
          .agg(pairs2(F.col("c")).alias("sa")))
    sb = (j.groupBy("cb").agg(F.count("*").cast("long").alias("c"))
          .agg(pairs2(F.col("c")).alias("sb")))
    nn = j.agg(F.count("*").cast("long").alias("n_docs"))

    base = (nn.crossJoin(F.broadcast(sij)).crossJoin(F.broadcast(sa))
            .crossJoin(F.broadcast(sb)))  # three single-row broadcasts
    nc2 = int_div(F.col("n_docs") * (F.col("n_docs") - 1), F.lit(2))
    exp = (F.col("sa").cast("double") * F.col("sb").cast("double")
           / nc2.cast("double"))
    num = F.col("sij").cast("double") - exp
    den = ((F.col("sa").cast("double") + F.col("sb").cast("double"))
           / F.lit(2.0) - exp)
    return base.select(
        "n_docs", "sij", "sa", "sb",
        F.when(den == 0.0, F.lit(1.0)).otherwise(num / den).alias("ari"))


#: C4-style segment dedup: non-overlapping token chunks of this size …
SEGMENT_TOKENS = 8
#: … dropped when they occur at least this often corpus-wide.
SEGMENT_MIN_DF = 2


def corpus_segments(docs: DataFrame, text_col: str = "text",
                    seg: int = SEGMENT_TOKENS) -> DataFrame:
    """doc_id -> (seg_idx, seg_text, n_tok, h): the document cut into
    NON-overlapping ``seg``-token chunks, in order, each with its token
    count and 60-bit hash.

    This is the unit of C4/RefinedWeb-style boilerplate removal — where
    C4 splits on newlines/sentences, the fixture corpus has neither
    (documents.parquet is single-line), so the segment boundary is a
    fixed token stride: same pipeline shape, deterministic and
    oracle-expressible.  Zero-token documents yield no segments.  The
    shuffle unit downstream is the 8-byte hash ``h``, never the segment
    text.

    Geometry is the shared :func:`~..operators.text.token_windows` with
    stride == width (non-overlapping), so segment and retrieval-chunk
    boundaries can never drift apart.
    """
    from .text import token_windows

    return token_windows(docs, text_col, width=seg, stride=seg).select(
        "doc_id",
        F.col("win_idx").alias("seg_idx"),
        F.col("win_text").alias("seg_text"),
        "n_tok",
        md5_long(F.col("win_text")).alias("h"),
    )


def segment_dedup(docs: DataFrame, text_col: str = "text", *,
                  seg: int = SEGMENT_TOKENS,
                  min_df: int = SEGMENT_MIN_DF) -> DataFrame:
    """Corpus-level boilerplate segment removal (the C4 "deduplicate
    three-sentence spans" step): any segment occurring >= ``min_df``
    times across the corpus is dropped from EVERY document; emit one row
    per non-empty document with retention stats and the md5 of the
    cleaned text (kept segments re-joined in original order).

    Plan shape for 100 TB: pass 1 aggregates segment hashes (8-byte
    keys, map-side combined — the shuffle carries one row per distinct
    segment, not per occurrence); the surviving boilerplate set is a
    tiny fraction of distinct segments and broadcasts back onto pass 2's
    per-document rollup, so no second corpus-wide shuffle on ``h`` ever
    happens.  If the boilerplate set outgrows broadcast at extreme
    scale, drop the hint and it degrades to an ordinary shuffled left
    join with the same semantics.  The segment explode is recomputed by
    both passes (at 100 TB checkpoint ``corpus_segments`` to storage
    instead).
    """
    segs = corpus_segments(docs, text_col, seg)
    boiler = (
        segs.groupBy("h").agg(F.count("*").alias("df"))
        .filter(F.col("df") >= min_df)
        .select("h", F.lit(1).alias("_boiler"))
    )
    flagged = segs.join(F.broadcast(boiler), "h", "left")
    kept = F.col("_boiler").isNull()
    kept_segs = F.array_sort(
        F.collect_list(F.when(kept, F.struct("seg_idx", "seg_text"))))
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum(F.when(kept, 0).otherwise(1)).alias("n_dropped"),
            F.sum(F.when(kept, F.col("n_tok")).otherwise(0)).alias("tokens_kept"),
            F.md5(F.concat_ws(
                " ", F.transform(kept_segs, lambda s: s["seg_text"]),
            )).alias("kept_text_hash"),
        )
    )


def incremental_dedup_flags(corpus: DataFrame, batch: DataFrame,
                            text_col: str = "text", *, n: int = 3,
                            threshold: float = 0.4) -> DataFrame:
    """Daily-ingest near-dedup: flag documents in ``batch`` that
    near-duplicate (MinHash-LSH, exact-Jaccard >= ``threshold``) any
    document already in ``corpus``.  One row per flagged batch doc:
    (doc_id, n_matches, matched_corpus_doc = smallest matching corpus
    id, best_jaccard).

    This is the asymmetric join a 100 TB pipeline actually runs every
    ingest cycle: the corpus side is a PRE-BUILT stored LSH index
    ((band, bucket) -> doc_id + shingle set, appended to as batches are
    accepted), so each new batch costs O(batch) sketch work plus an
    equi-join against the index — never a corpus re-scan and never a
    corpus x corpus self-join.  Here the index is computed inline from
    the corpus split; per-doc signatures are identical either way
    because MinHash is a per-document aggregate.
    """
    # each sketch feeds its banding subtree AND its verify side —
    # localCheckpoint (r12) so each side's shingle scan runs once; the
    # two independent sketch jobs overlap via driver threads (§2.6)
    from ..functions.scale import par_build
    csk, bsk = par_build(
        lambda: minhash_sketch(corpus, text_col, n).localCheckpoint(),
        lambda: minhash_sketch(batch, text_col, n).localCheckpoint())
    cand = (
        lsh_band_buckets(bsk).alias("x")
        .join(lsh_band_buckets(csk).alias("y"),
              (F.col("x.band") == F.col("y.band"))
              & (F.col("x.bucket") == F.col("y.bucket")))
        .select(F.col("x.doc_id").alias("new_doc"),
                F.col("y.doc_id").alias("corpus_doc"))
        .distinct()
    )
    a, b = bsk.alias("a"), csk.alias("b")
    inter = F.size(F.array_intersect(F.col("a.hset"), F.col("b.hset")))
    union = F.size(F.col("a.hset")) + F.size(F.col("b.hset")) - inter
    verified = (
        cand.join(a, cand.new_doc == F.col("a.doc_id"))
        .join(b, cand.corpus_doc == F.col("b.doc_id"))
        .select(
            "new_doc", "corpus_doc",
            # exact BIGINT rounding, not round(double): cross-engine
            # exact on half-boundary quotients (functions/detmath)
            exact_round_div(inter, union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return (
        verified.groupBy(F.col("new_doc").alias("doc_id"))
        .agg(
            F.count("*").alias("n_matches"),
            F.min("corpus_doc").alias("matched_corpus_doc"),
            F.max("jaccard").alias("best_jaccard"),
        )
    )


# --- winnowing (Schleimer et al., SIGMOD 2003) -------------------------------

#: k-gram length (tokens) hashed into one fingerprint candidate.
WINNOW_K = 4
#: Window of consecutive k-gram hashes one fingerprint is selected from.
#: Guarantee: any shared token run of length >= WINNOW_K + WINNOW_W - 1
#: (= 7 tokens) produces at least one identical selected fingerprint in
#: both documents.
WINNOW_W = 4
#: Fingerprints appearing in more docs than this are corpus boilerplate:
#: dropped before pairing, which also caps the equi-join fanout per
#: fingerprint at WINNOW_MAX_DF^2 — the skew bound that makes the
#: pair generation safe at 100 TB.
WINNOW_MAX_DF = 20
#: Minimum shared selected fingerprints for a reported pair.
WINNOW_MIN_SHARED = 2


def winnow_fingerprints(docs: DataFrame, text_col: str = "text", *,
                        k: int = WINNOW_K, w: int = WINNOW_W) -> DataFrame:
    """doc_id -> distinct winnowing-selected fingerprints.

    Winnowing selects, from every window of ``w`` consecutive k-gram
    hashes, the window minimum — a position-robust ~1/w subsample of the
    document's k-gram set with the guarantee documented on WINNOW_W.
    Unlike MinHash (a per-document global sketch for whole-doc
    similarity), the selected set is LOCAL: any sufficiently long shared
    passage surfaces, which is what plagiarism/overlap detection needs.

    Everything here is per-row higher-order-function work over the
    materialized token array — no window function, no shuffle, no
    per-doc sort: at 100 TB this stage is embarrassingly parallel and
    the only shuffle in the overlap pipeline is the fingerprint
    equi-join downstream.  The token and gram-hash arrays are staged
    through named projections (cf. shingle_hashes) so the tokenizer and
    the md5 fold each run once per row, not once per lambda reference.
    """
    toked = docs.select("doc_id", ws_tokens(F.col(text_col)).alias("_toks"))
    toks = F.col("_toks")
    ghs = F.when(
        F.size(toks) >= k + w - 1,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - k),
            lambda i: md5_long(F.concat_ws(" ", F.slice(toks, i + 1, k)))
            % HASH_PRIME,
        ),
    ).otherwise(F.array().cast("array<long>"))
    ghd = toked.select("doc_id", ghs.alias("_ghs"))
    g = F.col("_ghs")
    sel = F.when(
        F.size(g) >= w,
        F.array_distinct(F.transform(
            F.sequence(F.lit(0), F.size(g) - w),
            lambda p: F.array_min(F.slice(g, p + 1, w)),
        )),
    ).otherwise(F.array().cast("array<long>"))
    return ghd.select("doc_id", F.explode(sel).alias("fp"))


def winnowing_pairs(docs: DataFrame, text_col: str = "text", *,
                    k: int = WINNOW_K, w: int = WINNOW_W,
                    max_df: int = WINNOW_MAX_DF,
                    min_shared: int = WINNOW_MIN_SHARED) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowing fingerprints —
    passage-level overlap pairs (doc_a < doc_b, with the shared count).

    Pipeline: per-doc fingerprint selection (map-only) -> ONE shuffle
    grouping (doc, fp) rows by fp -> in-row pair expansion over the
    collected doc list -> pair count.  The doc-frequency gate
    (2 <= df <= max_df: singletons cannot pair, >max_df is corpus
    boilerplate) filters the collected lists BEFORE expansion, so the
    per-row combination blowup is bounded by max_df(max_df-1)/2 and no
    hot fingerprint can explode regardless of corpus size.  Expanding
    pairs in-row replaces the df-gate join + fp self-join formulation —
    two shuffles total instead of four (measured 2.8 s -> 1.4 s at
    sf0.1 on local[32]).
    """
    fps = winnow_fingerprints(docs, text_col, k=k, w=w)
    grouped = (
        fps.groupBy("fp")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("_ds"))
        .filter((F.size("_ds") >= 2) & (F.size("_ds") <= max_df))
    )
    ds = F.col("_ds")
    pair_arrays = F.transform(
        ds,
        lambda x, i: F.transform(
            F.slice(ds, i + 2, F.size(ds)),  # length clamps at array end
            lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
        ),
    )
    return (
        grouped.select(F.explode(F.flatten(pair_arrays)).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"),
                 F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def intra_doc_dedup(docs: DataFrame, text_col: str = "text", *,
                    seg: int = SEGMENT_TOKENS) -> DataFrame:
    """WITHIN-document repeated-span removal: keep the FIRST occurrence
    of each distinct segment inside a document, drop later repeats —
    the self-repetition cleanup (looping generations, copy-pasted
    paragraphs) that corpus-level :func:`segment_dedup` does not touch
    (a segment repeated 10× inside ONE doc has corpus df = 1 there if
    no other doc shares it).  One row per non-empty doc: segment
    counts, tokens kept, and the md5 of the cleaned text (kept segments
    re-joined in original order).

    Plan shape for 100 TB: everything is per-document — the segment
    explode feeds ONE doc_id-keyed aggregation (map-side combinable);
    no corpus-wide segment shuffle, no broadcast, no second pass.  The
    first-occurrence rule is computed inside the aggregation from the
    ordered (seg_idx, h) list, not with a window function, so there is
    no per-(doc, h) partitioning step.
    """
    segs = corpus_segments(docs, text_col, seg)
    ordered = F.array_sort(
        F.collect_list(F.struct("seg_idx", "h", "n_tok", "seg_text")))
    # a segment is kept iff no EARLIER list element carries its hash —
    # an index-aware filter over the seg_idx-ordered struct list
    return (
        segs.groupBy("doc_id")
        .agg(ordered.alias("_segs"))
        .select(
            "doc_id",
            F.size("_segs").cast("long").alias("n_segments"),
            F.filter(
                F.col("_segs"),
                lambda s, i: F.size(
                    F.filter(
                        F.slice(F.col("_segs"), 1, i),
                        lambda p: p["h"] == s["h"],
                    )) == 0,
            ).alias("_kept"),
        )
        .select(
            "doc_id", "n_segments",
            (F.col("n_segments") - F.size("_kept")).cast("long")
            .alias("n_dropped"),
            F.aggregate(F.transform("_kept", lambda s: s["n_tok"]),
                        F.lit(0).cast("long"), lambda a, v: a + v)
            .alias("tokens_kept"),
            F.md5(F.concat_ws(
                " ", F.transform("_kept", lambda s: s["seg_text"])))
            .alias("kept_text_hash"),
        )
    )


# --- dup-graph triangle census ------------------------------------------------

def triangle_stats(pairs: DataFrame, *, left_col: str = "doc_a",
                   right_col: str = "doc_b") -> DataFrame:
    """Exact triangle count and global clustering coefficient of the
    near-dup pair graph — the structure audit that separates
    TEMPLATE-like duplication (hub-and-spoke: many wedges, few
    closures, cc ~ 0 — drop the hub, keep the spokes) from true
    mirror CLIQUES (every wedge closes, cc ~ 1 — keep one
    representative per component).  Complements dup_graph_degrees
    (per-node structure) and dup_clusters (component sizes) with the
    closure rate.

    Scale shape: the distributed-standard degree-ordered wedge join
    (Schank–Wagner ordering, the algorithm behind every MapReduce/
    Spark triangle count): orient each edge from its lower-(degree,
    id) endpoint, so every node's OUT-degree is O(√m) and the wedge
    self-join materializes O(m^{3/2}) candidates total instead of
    Σ deg² hub explosions; closure is an equi-join of the wedge list
    against the oriented edge set (a wedge (a,b) with rank(a) <
    rank(b) closes iff oriented edge a→b exists).  Three shuffles on
    edge/wedge keys; the output is one row.

    Determinism: pure BIGINT counts; the clustering coefficient
    3·T / Σ deg·(deg−1)/2 is exact_round_div (NULL on a wedge-free
    graph).  Input pairs must be canonical (left < right, distinct),
    which every pair generator in this module guarantees.

    The edge list is materialized via localCheckpoint (r12; was a
    persist since r7): the plan references it five times (degrees
    twice, wedge self-join twice, closure once), and the subtree here
    is the whole LSH+verify pipeline while the materialization is only
    dup-graph-sized.  localCheckpoint over persist additionally
    truncates the corpus-scale lineage out of the final plan (smaller
    analysis, no first-action cache race between the five concurrent
    branches).  The ORIENTED relation is also materialized: it feeds
    the wedge self-join twice plus the closure probe, each of which
    would re-run the two degree joins.
    """
    edges = pairs.select(F.col(left_col).alias("u"),
                         F.col(right_col).alias("v")) \
        .localCheckpoint()
    ends = edges.select(F.col("u").alias("node")).unionAll(
        edges.select(F.col("v").alias("node")))
    deg = ends.groupBy("node").agg(F.count("*").cast("long").alias("deg"))

    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    ed = edges.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    oriented = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dt"),
    ).localCheckpoint()

    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedge = (
        o1.join(o2, (F.col("o1.s") == F.col("o2.s"))
                & ((F.col("o1.dt") < F.col("o2.dt"))
                   | ((F.col("o1.dt") == F.col("o2.dt"))
                      & (F.col("o1.t") < F.col("o2.t")))))
        .select(F.col("o1.t").alias("a"), F.col("o2.t").alias("b"))
    )
    closing = oriented.select(F.col("s").alias("a"), F.col("t").alias("b"))
    tri = wedge.join(closing, ["a", "b"]).agg(
        F.count("*").cast("long").alias("n_triangles"))

    shape = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        int_div(F.sum("deg"), F.lit(2)).alias("n_edges"),
        F.sum(int_div(F.col("deg") * (F.col("deg") - 1), F.lit(2)))
        .cast("long").alias("n_wedges"),
    )
    return shape.crossJoin(F.broadcast(tri)).select(  # single-row broadcast
        "n_nodes", "n_edges", "n_wedges", "n_triangles",
        exact_round_div(3 * F.col("n_triangles"), F.col("n_wedges"), 6)
        .alias("global_cc"),
    )


def local_clustering(pairs: DataFrame, *, left_col: str = "doc_a",
                     right_col: str = "doc_b") -> DataFrame:
    """Per-node local clustering coefficient of the near-dup pair graph
    — ``cc(v) = triangles(v) / (deg(v)·(deg(v)−1)/2)`` — the NODE-level
    refinement of :func:`triangle_stats`' one-row global census: a hub
    template scores ~0 (its wedges don't close — drop the hub, keep the
    spokes) while a mirror-clique member scores ~1 (keep one
    representative), so this is the per-document keep/drop signal the
    global coefficient can only hint at.

    Scale shape: the same degree-ordered wedge join as triangle_stats
    (O(m^{3/2}) wedge candidates total, never Σ deg² hub explosions),
    but the wedge relation KEEPS its apex so each closed triangle can be
    attributed to all three corners: a 3-way unionAll of the corner
    projections then map-side-combines to per-node triangle counts.
    Four shuffles on edge/wedge keys; output is node-sized (a per-doc
    report, the dup_graph_degrees granularity).

    Determinism: pure BIGINT counts; the coefficient is exact_round_div
    (NULL for degree-1 nodes, which have no wedges).  Input pairs must
    be canonical (left < right, distinct), as every generator in this
    module guarantees.

    The edge list (and the oriented relation) are materialized via
    localCheckpoint for the same multi-reference reason as
    triangle_stats (see its docstring)."""
    edges = pairs.select(F.col(left_col).alias("u"),
                         F.col(right_col).alias("v")) \
        .localCheckpoint()
    ends = edges.select(F.col("u").alias("node")).unionAll(
        edges.select(F.col("v").alias("node")))
    deg = ends.groupBy("node").agg(F.count("*").cast("long").alias("deg"))

    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    ed = edges.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    oriented = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dt"),
    ).localCheckpoint()

    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedge = (
        o1.join(o2, (F.col("o1.s") == F.col("o2.s"))
                & ((F.col("o1.dt") < F.col("o2.dt"))
                   | ((F.col("o1.dt") == F.col("o2.dt"))
                      & (F.col("o1.t") < F.col("o2.t")))))
        .select(F.col("o1.s").alias("apex"),
                F.col("o1.t").alias("a"), F.col("o2.t").alias("b"))
    )
    closing = oriented.select(F.col("s").alias("a"), F.col("t").alias("b"))
    tri = wedge.join(closing, ["a", "b"])
    # ONE execution of the closure join: explode each triangle into its
    # three corner credits in place (a 3-way unionAll of tri would
    # re-run the O(m^{3/2}) wedge join per branch — measured 23.6 s →
    # 5.0 s at sf0.1 from this alone)
    corners = tri.select(
        F.explode(F.array("apex", "a", "b")).alias("node"))
    tri_n = corners.groupBy("node").agg(
        F.count("*").cast("long").alias("tri_n"))

    return (deg.join(tri_n, "node", "left")
            .select(F.col("node").alias("doc_id"), "deg",
                    F.coalesce("tri_n", F.lit(0).cast("long"))
                    .alias("n_triangles"),
                    exact_round_div(
                        F.coalesce("tri_n", F.lit(0).cast("long")),
                        int_div(F.col("deg") * (F.col("deg") - 1),
                                F.lit(2)), 6).alias("local_cc")))


#: PageRank defaults: 3 power iterations at the standard 0.85 damping —
#: enough to separate hub templates from spokes on a dup graph whose
#: components are shallow (LSH cliques/stars), while keeping the SQL
#: oracle a fixed 3-CTE unroll.
PAGERANK_ITERS = 3
PAGERANK_D = 0.85


def pagerank(pairs: DataFrame, *, iters: int = PAGERANK_ITERS,
             left_col: str = "doc_a", right_col: str = "doc_b") -> DataFrame:
    """Fixed-iteration PageRank over the UNDIRECTED near-dup graph —
    ranks the hub documents that near-duplicate everything else (the
    canonical-representative pick for web-style corpora: keep the page
    everyone mirrors, not a mirror).  Complements triangle_stats
    (closure rate) and duplicate_components (membership) with
    per-node centrality.

    Scale shape: each of the ``iters`` power steps is one equi-join of
    the (u, v, deg) adjacency (persisted once — referenced every
    iteration) with the current rank vector plus one
    map-side-combinable aggregation; state between steps is one row
    per node.  No collect, no driver-side loop beyond the fixed
    iteration count — the O(log d)-rounds pattern duplicate_components
    uses, with a constant bound.

    Determinism: ranks are doubles, but every step folds the incoming
    contributions in SORTED-VALUE order (array_sort(collect_list) /
    list_sort(list)) and applies the identical
    ``0.15/N + 0.85·Σ`` DAG, so both engines round identically at
    every intermediate — the label_centroids treatment for iterated
    sums.  Isolated documents are not graph nodes (rank is defined on
    the dup graph); every node has deg >= 1 so there are no dangling
    redistributions.
    """
    # localCheckpoint (r12, replacing the r7-era persist + count +
    # unpersist dance): the upstream pair generator (the whole
    # LSH+verify pipeline for dup graphs) runs ONCE into the ed
    # barrier, deg and g materialize from it, and — unlike persist —
    # every per-iteration action's plan starts at a LogicalRDD instead
    # of re-analyzing the corpus-scale lineage (the kcore/components
    # plan-truncation rationale).  No unpersist bookkeeping: the blocks
    # free with the RDD when the query's references drop.
    ed = pairs.select(F.col(left_col).alias("u"),
                      F.col(right_col).alias("v")).unionAll(
        pairs.select(F.col(right_col).alias("u"),
                     F.col(left_col).alias("v"))) \
        .localCheckpoint()
    deg = (ed.groupBy("u").agg(F.count("*").cast("long").alias("deg"))
           .localCheckpoint())
    g = ed.join(deg, "u").localCheckpoint()
    n_row = deg.agg(F.count("*").cast("long").alias("n"))

    r = (deg.crossJoin(F.broadcast(n_row))  # single-row broadcast
         .select(F.col("u").alias("node"),
                 (F.lit(1.0) / F.col("n").cast("double")).alias("pr")))
    for _ in range(iters):
        contrib = g.join(r, g.u == r.node).select(
            F.col("v"), (F.col("pr") / F.col("deg").cast("double"))
            .alias("c"))
        r = (contrib.groupBy("v")
             .agg(F.aggregate(F.array_sort(F.collect_list("c")),
                              F.lit(0.0), lambda a, x: a + x).alias("s"))
             .crossJoin(F.broadcast(n_row))  # single-row broadcast
             .select(F.col("v").alias("node"),
                     (F.lit(0.15) / F.col("n").cast("double")
                      + F.lit(0.85) * F.col("s")).alias("pr")))
    return r.join(deg, r.node == deg.u).select(
        F.col("node").alias("doc_id"), "deg", "pr")


#: k-core parameters: membership for k in KCORE_KS after KCORE_ROUNDS
#: peel rounds.  On LSH dup graphs (clique/star components) peeling
#: stabilizes in 1-2 rounds; 4 gives margin, and the per-node *_settled
#: flags surface any node whose membership was still changing in the
#: last round (all-true == the exact k-core).
KCORE_KS = (2, 3)
KCORE_ROUNDS = 4


def kcore_membership(pairs: DataFrame, *, ks: tuple[int, ...] = KCORE_KS,
                     rounds: int = KCORE_ROUNDS, left_col: str = "doc_a",
                     right_col: str = "doc_b") -> DataFrame:
    """Bounded-round k-core decomposition of the near-dup graph: which
    documents survive iterated "remove nodes with degree < k" peeling —
    the density audit that separates CORE mirror cliques (2-core and
    3-core members: every copy connects to several others) from
    tree-like template periphery (spokes and chains peel away at k=2).
    Complements triangle_stats (closure rate, one global row) with
    per-node structural depth.

    Scale shape: each peel round is one map-side-combinable degree
    count plus two semi-joins against the surviving-node set — all
    equi-joins on node id, ``len(ks) x rounds`` rounds total, a fixed
    constant like pagerank's iteration bound (never a data-dependent
    driver loop).  Because node sets only SHRINK, the round-r edge set
    equals the ORIGINAL edge list restricted to round-r nodes, so each
    round re-filters the one persisted edge relation instead of
    chaining edge caches; only the per-round NODE sets (node-id
    columns, graph-node-sized) are persisted — that keeps the logical
    plan linear in the round count (each round references its
    predecessor's node set, which cache substitution replaces) at a
    per-round cache cost of ids rather than edges.

    Exactness contract: after R rounds the membership equals the true
    k-core whenever peeling has stabilized; the per-node
    ``core{k}_settled`` flag (round R membership == round R-1
    membership) makes that checkable INSIDE the result — all-true
    means exact.  All-integer/boolean output, no float determinism
    surface.  ``rounds`` must be >= 2: the settled flag is defined as a
    round-over-round comparison, so there is no previous-round node set
    to compare against below that.

    Lineage note: rounds truncate via executor-local, non-replicated
    ``localCheckpoint`` blocks — executor loss mid-query fails the job
    instead of recomputing; README "Scale design" documents the trade
    and the reliable ``checkpoint()`` escape hatch for cluster mode.
    """
    if rounds < 2:
        raise ValueError(
            f"kcore_membership needs rounds >= 2 (got {rounds}): the "
            "core{k}_settled exactness witness compares the final two "
            "rounds' node sets")
    # localCheckpoint (the duplicate_components treatment; cluster
    # storage at 100 TB): every one of the ks x rounds round-jobs
    # references the edge list, and a persist would leave the whole
    # upstream LSH+verify subtree inside each round's analyzed plan —
    # re-optimized once per eager round job.
    ed = pairs.select(F.col(left_col).alias("u"),
                      F.col(right_col).alias("v")).unionAll(
        pairs.select(F.col(right_col).alias("u"),
                     F.col(left_col).alias("v"))) \
        .localCheckpoint(eager=True)
    deg = ed.groupBy("u").agg(F.count("*").cast("long").alias("deg"))

    out = deg.select(F.col("u").alias("doc_id"), "deg")

    def peel(k: int):
        """The per-k peel loop: a sequential chain of round jobs."""
        cur = ed
        nodes_prev = None   # node set after round rounds-1
        nodes = None
        for _ in range(rounds):
            nodes_prev = nodes
            # localCheckpoint, not persist: cur references nodes twice
            # and the next round's nodes references cur, so the LOGICAL
            # tree doubles per round (2^rounds copies of the upstream
            # LSH subtree at analysis time — measured 16.6 s -> 2.9 s at
            # sf0.1 for the 4-round default, almost all of it driver-side
            # planning).  The node set is id-sized and trivially
            # re-derivable, so truncating its lineage is free.
            nodes = (cur.groupBy("u").agg(F.count("*").alias("_d"))
                     .filter(F.col("_d") >= k).select("u")
                     .localCheckpoint(eager=True))
            cur = (ed.join(nodes, "u")
                   .join(nodes.select(F.col("u").alias("v")), "v"))
        return nodes, nodes_prev

    # the per-k loops are independent chains over the one checkpointed
    # edge list — run them from driver threads so their round jobs
    # overlap (functions/scale.par_build, guide §2.6)
    from ..functions.scale import par_build
    peeled = par_build(*(lambda k=k: peel(k) for k in ks))
    for k, (nodes, nodes_prev) in zip(ks, peeled):
        in_core = nodes.select(F.col("u").alias("doc_id"),
                               F.lit(True).alias(f"in_{k}core"))
        in_prev = nodes_prev.select(F.col("u").alias("doc_id"),
                                    F.lit(True).alias("_prev"))
        out = (out.join(in_core, "doc_id", "left")
               .join(in_prev, "doc_id", "left")
               .withColumn(f"in_{k}core",
                           F.coalesce(F.col(f"in_{k}core"), F.lit(False)))
               .withColumn(
                   f"core{k}_settled",
                   F.coalesce(F.col(f"in_{k}core"), F.lit(False))
                   == F.coalesce(F.col("_prev"), F.lit(False)))
               .drop("_prev"))
    return out


def partition_modularity(pairs: DataFrame, labels: DataFrame, *,
                         left_col: str = "doc_a", right_col: str = "doc_b",
                         node_col: str = "doc_id",
                         label_col: str = "cluster_id") -> DataFrame:
    """Newman modularity of a node partition, evaluated on an undirected
    pair graph — per cluster:

        contribution_c = e_c/m − (d_c / 2m)²

    (e_c = within-cluster edges, d_c = degree sum, m = total edges);
    Σ contribution = Q.  The EDGE-STRUCTURE agreement audit that
    completes the detector-comparison family: ARI
    (:func:`adjusted_rand_index`) compares two partitions label-wise;
    this measures how well ONE detector's partition explains the OTHER
    detector's pair graph (components evaluated on their own graph give
    e_c/m summing to 1 — the degenerate upper bound — so the audit is
    interesting exactly when graph and partition come from different
    detectors).  Nodes of the graph missing from the partition are
    their own singletons (the ARI universe convention).

    CONTRACT — label namespace (ADVICE r10): unlabeled nodes become
    singletons via ``coalesce(lbl, node)``, so cluster ids must be
    drawn from the member-node-id namespace (e.g. cluster_id = min
    member doc_id, the convention every propagation in this package
    emits).  Under that convention a collision is impossible: a
    cluster id IS one of its members' ids, so an UNLABELED node's id
    can never equal the id of a cluster it doesn't belong to.  A
    caller supplying labels from an arbitrary namespace (say dense
    ints 0..k) must first offset/disambiguate them, or a singleton
    whose doc_id equals a foreign cluster id silently merges into it.

    Scale shape: the label relation is node-sized and localCheckpointed
    once (it feeds three joins); internal edges are one equi-join per
    endpoint + a map-combinable count; degrees are an endpoint-union
    aggregation; m arrives as a SANCTIONED single-row broadcast (the
    ARI-scalar pattern).  Nothing is ever joined against the edge list
    twice, and no window or sort appears at any size.

    Determinism: e_c, d_c, m are BIGINT; each contribution is the
    identical double DAG (d_c² computed in doubles — it would overflow
    int64 on a 10⁵-degree graph), det_round(…, 6).
    """
    from ..functions.detmath import det_round

    # localCheckpoint (r12): the edge relation feeds SIX plan branches
    # (node union x2, internal join, degree union x2, m) and `pairs` is
    # typically the whole LSH+verify pipeline — without the barrier the
    # corpus-scale pair generator re-ran once per branch (the lbl
    # checkpoint below already existed for the same reason; before/after
    # for dup_modularity in OPTIMIZATION_r12.md).
    edges = pairs.select(left_col, right_col).localCheckpoint()
    nodes = (edges.select(F.col(left_col).alias("node"))
             .union(edges.select(F.col(right_col).alias("node")))
             .distinct())
    lbl = (nodes.join(labels.select(F.col(node_col).alias("node"),
                                    F.col(label_col).alias("lbl")),
                      "node", "left")
           .select("node", F.coalesce("lbl", F.col("node")).alias("lbl"))
           .localCheckpoint())

    la = lbl.select(F.col("node").alias("_na"), F.col("lbl").alias("la"))
    lb = lbl.select(F.col("node").alias("_nb"), F.col("lbl").alias("lb"))
    internal = (edges
                .join(la, F.col(left_col) == F.col("_na"))
                .join(lb, F.col(right_col) == F.col("_nb"))
                .filter(F.col("la") == F.col("lb"))
                .groupBy(F.col("la").alias("cluster_id"))
                .agg(F.count("*").cast("long").alias("internal_edges")))
    ends = (edges.select(F.col(left_col).alias("node"))
            .unionAll(edges.select(F.col(right_col).alias("node"))))
    deg = ends.groupBy("node").agg(F.count("*").cast("long").alias("d"))
    dsum = (lbl.join(deg, "node")
            .groupBy(F.col("lbl").alias("cluster_id"))
            .agg(F.sum("d").cast("long").alias("degree_sum"),
                 F.count("*").cast("long").alias("n_nodes")))
    m_row = edges.groupBy().agg(F.count("*").cast("long").alias("m"))
    rep = (dsum.join(internal, "cluster_id", "left")
           .withColumn("internal_edges",
                       F.coalesce("internal_edges", F.lit(0)).cast("long"))
           .crossJoin(F.broadcast(m_row)))
    frac = (F.col("internal_edges").cast("double")
            / F.col("m").cast("double"))
    half = (F.col("degree_sum").cast("double")
            / (F.lit(2.0) * F.col("m").cast("double")))
    return rep.select(
        "cluster_id", "n_nodes", "internal_edges", "degree_sum", "m",
        det_round(frac - half * half, 6).alias("contribution"))


def cluster_source_composition(components: DataFrame, docs: DataFrame, *,
                               node_col: str = "doc_id",
                               label_col: str = "cluster_id",
                               source_col: str = "source") -> DataFrame:
    """Source composition of every duplicate cluster — the
    mirror-vs-boilerplate verdict a curation pipeline runs after
    clustering: a cluster spanning sources is cross-site MIRRORED
    content (keep one copy globally; distrust per-source quality stats
    computed before dedup), a single-source cluster is internal
    BOILERPLATE (a source-local template, the C4-style removal target).
    Per cluster: size, distinct sources, the dominant source with its
    exact share, and the single-source flag.

    Factored out of q_dup_cluster_sources so the production path and
    its edge tests exercise the SAME code (ADVICE r10).

    Scale shape: one (cluster, source) map-side count over the
    node-sized component relation, then a cluster-cardinality
    reduction; no window wider than a cluster's source list and
    nothing document-sized crosses a second shuffle.

    Determinism: counts BIGINT; top-source tie-break is lexicographic
    min over sources holding the max count; share is exact_round_div
    at scale 4 (half-up decimal, cross-engine stable).
    """
    from pyspark.sql import Window

    per_src = (components
               .select(node_col, label_col)
               .join(docs.select(node_col, source_col), node_col)
               .groupBy(label_col, source_col)
               .agg(F.count("*").cast("long").alias("scnt")))
    ps = per_src.withColumn(
        "_mx", F.max("scnt").over(Window.partitionBy(label_col)))
    grp = ps.groupBy(label_col).agg(
        F.sum("scnt").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_sources"),
        F.max("scnt").cast("long").alias("_top"),
        F.min(F.when(F.col("scnt") == F.col("_mx"), F.col(source_col)))
        .alias("top_source"))
    return grp.select(
        label_col, "n_docs", "n_sources", "top_source",
        exact_round_div(F.col("_top"), F.col("n_docs"), 4)
        .alias("top_share"),
        (F.col("n_sources") == 1).alias("single_source"))


def pair_set_agreement(pairs_a: DataFrame, pairs_b: DataFrame, *,
                       left_col: str = "doc_a",
                       right_col: str = "doc_b") -> DataFrame:
    """PAIR-level agreement between two duplicate detectors — the third
    angle of the detector-comparison family: ARI
    (:func:`adjusted_rand_index`) compares the induced PARTITIONS,
    :func:`partition_modularity` scores one partition on the other's
    GRAPH, and this compares the raw pair sets themselves — one row:

        n_a, n_b, n_both, n_a_only, n_b_only,
        pair_jaccard = both / (a + b − both),
        precision_b  = both / n_b   (b's pairs confirmed by a),
        recall_b     = both / n_a   (a's pairs recovered by b).

    Pair-level is the strictest of the three: two detectors can induce
    identical partitions from DIFFERENT pair sets (transitive closure
    hides which edges each found), so partition-level agreement can be
    perfect while pair recall is low — exactly the gap this measures.

    Scale shape: both inputs are already-bounded candidate-pair
    relations (banded joins upstream, never all-pairs); the full outer
    join runs on (pair-key)-sized relations and the report is one
    map-combinable global aggregate.  No window, no driver-side action.

    CONTRACT — pair normalization: both inputs must order each pair the
    same way (every producer in this package emits doc_a < doc_b); an
    unnormalized caller would count (1,2) and (2,1) as disjoint.

    Determinism: counts BIGINT (0, not NULL, on empty inputs — matching
    the SQL twin's count(*)); ratios exact_round_div(…, 4) (NULL on an
    empty side, both engines).
    """
    a = (pairs_a.select(F.col(left_col).alias("pa"),
                        F.col(right_col).alias("pb"))
         .distinct().withColumn("_a", F.lit(1)))
    b = (pairs_b.select(F.col(left_col).alias("pa"),
                        F.col(right_col).alias("pb"))
         .distinct().withColumn("_b", F.lit(1)))
    j = a.join(b, ["pa", "pb"], "full_outer")
    # outer coalesce: on two EMPTY inputs the zero-row agg sums to NULL
    # where the SQL twin's count(*) gives 0 — pin both engines to 0
    rep = j.agg(
        F.coalesce(F.sum(F.coalesce("_a", F.lit(0))), F.lit(0))
        .cast("long").alias("n_a"),
        F.coalesce(F.sum(F.coalesce("_b", F.lit(0))), F.lit(0))
        .cast("long").alias("n_b"),
        F.coalesce(
            F.sum(F.when(F.col("_a").isNotNull() & F.col("_b").isNotNull(),
                         1).otherwise(0)), F.lit(0))
        .cast("long").alias("n_both"))
    return rep.select(
        "n_a", "n_b", "n_both",
        (F.col("n_a") - F.col("n_both")).cast("long").alias("n_a_only"),
        (F.col("n_b") - F.col("n_both")).cast("long").alias("n_b_only"),
        exact_round_div(F.col("n_both"),
                        F.col("n_a") + F.col("n_b") - F.col("n_both"), 4)
        .alias("pair_jaccard"),
        exact_round_div(F.col("n_both"), F.col("n_b"), 4)
        .alias("precision_b"),
        exact_round_div(F.col("n_both"), F.col("n_a"), 4)
        .alias("recall_b"))
