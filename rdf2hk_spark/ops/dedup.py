"""Deduplication operators for large-scale training-data pipelines.

All operators are pure DataFrame compositions (no Python on the hot path) and
are designed around shuffle economics at 10^12-document scale:

- exact:      one hash-groupBy on md5(text) — the map-side partial aggregate
              collapses duplicates before the shuffle.
- MinHash+LSH: shingle → K minhashes → B banded bucket keys → bucket groupBy.
              Only candidate pairs inside a bucket are verified, so the
              all-pairs O(n²) never materializes; bucket skew (a viral
              boilerplate bucket) is bounded by ``max_bucket`` before pairing.
- SimHash:    token-hash bit-vote signature; near-dups collide on signature
              bands.
- n-gram Jaccard verify: exact set overlap via explode + co-group, emitted as
              integer (intersection, union) counts so engines agree bit-exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from rdf2hk_spark import fixpoint
from rdf2hk_spark.ops import tokens
from rdf2hk_spark.ops.hashing import md5_int_py, md5s

# MinHash universal-hash family: ONE md5 evaluation per shingle yields TWO
# 9-digit base integers (disjoint digit windows of the same digest), then
# h_i(s) = (a_i·h0(s) + b_i·h1(s) + c_i) mod P — 16 multiply-adds replace 16
# md5 invocations per shingle (the md5 was ~all of the signature cost). Two
# base digests instead of one: with a single h0 any 9-digit collision between
# distinct shingles (expected once past ~√10⁹ ≈ 31k distinct shingles —
# routine at corpus scale) made them identical under EVERY h_i, biasing
# estimated Jaccard upward; the pair (h0, h1) collides only when the digest's
# whole digit string does. The a/b/c constants derive from md5 at import
# time, so they are identical literals in the Spark plan and the DuckDB
# oracle SQL. Bounds: h0,h1 < 10^9, a,b < P < 2^30 ⇒
# a·h0 + b·h1 + c < 2.1·10^18 < 2^63 (no overflow).
MINHASH_P = 1_000_000_007


def minhash_perm_consts(
    num_hashes: int,
) -> tuple[list[int], list[int], list[int]]:
    a = [(md5_int_py(f"a:{i}", 9) % (MINHASH_P - 1)) + 1 for i in range(num_hashes)]
    b = [(md5_int_py(f"b:{i}", 9) % (MINHASH_P - 1)) + 1 for i in range(num_hashes)]
    c = [md5_int_py(f"c:{i}", 9) % MINHASH_P for i in range(num_hashes)]
    return a, b, c


def _base_hash_pair(shingles: DataFrame) -> DataFrame:
    """(id, h0, h1): the two disjoint 9-digit windows of ONE md5 digit
    string per shingle (see the family note above). The padded digit string
    materializes as its own aliased projection — non-cheap and referenced
    twice, so CollapseProject keeps it single-evaluated even in interpreted
    (no-subexpression-elimination) mode."""
    padded = F.concat(
        # translate == regexp_replace('[a-f]','') on hex input, regex-free
        F.translate(md5s(F.col("shingle")), "abcdef", ""),
        F.lit("0" * 18),
    )
    return shingles.select("id", padded.alias("_ds")).select(
        "id",
        F.substring("_ds", 1, 9).cast("long").alias("h0"),
        F.substring("_ds", 10, 9).cast("long").alias("h1"),
    )


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical texts: (keep_id, dup_id) rows, dup_id ≠ keep_id.

    keep_id = min id per group (deterministic survivor)."""
    h = df.select(F.col(id_col).alias("id"), md5s(F.col(text_col)).alias("h"))
    groups = h.groupBy("h").agg(
        F.min("id").alias("keep_id"), F.count("*").alias("n")
    )
    return (
        h.join(groups.filter(F.col("n") > 1), "h")
        .filter(F.col("id") != F.col("keep_id"))
        .select("keep_id", F.col("id").alias("dup_id"))
    )


def shingles_from_tokens(toks: F.Column, k: int = 3) -> F.Column:
    """Distinct word k-shingles from a STAGED token-array column (see
    ops.tokens for the staging rule — inlining the split costs 10×)."""
    return F.array_distinct(tokens.kgrams_from_tokens(toks, k))


def word_shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    tokenizer: str = "simple",
) -> DataFrame:
    """Distinct word k-shingles per document: (id, shingle). ``tokenizer``
    picks the split rule (ops.tokens.tokens_frame): "simple" single-space
    or "ws" whitespace-run."""
    return tokens.tokens_frame(df, id_col, text_col, mode=tokenizer).select(
        "id",
        F.explode(shingles_from_tokens(F.col("toks"), k)).alias("shingle"),
    )


def minhash_signatures(shingles: DataFrame, num_hashes: int = 16) -> DataFrame:
    """K minhashes per doc via the linear-permutation family (see
    ``minhash_perm_consts``): integer minima, engine-portable.
    → (id, hidx, minh: bigint). The long-format reference the map-side
    paths (``minhash_signature_rows``, ``lsh_band_keys``) must match."""
    a, b, c = minhash_perm_consts(num_hashes)
    base = _base_hash_pair(shingles)
    hashed = base.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("hidx"),
                        (
                            (
                                F.lit(a[i]) * F.col("h0")
                                + F.lit(b[i]) * F.col("h1")
                                + F.lit(c[i])
                            )
                            % MINHASH_P
                        ).alias("h"),
                    )
                    for i in range(num_hashes)
                ]
            )
        ).alias("x"),
    ).select("id", "x.hidx", "x.h")
    return hashed.groupBy("id", "hidx").agg(F.min("h").alias("minh"))


def _wide_signature(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    num_hashes: int,
    tokenizer: str = "simple",
) -> DataFrame:
    """One wide row per doc: (id, m0..m{H-1}) via a SINGLE groupBy(id) with
    ``num_hashes`` conditional mins. Versus groupBy(id, hidx): same partial
    map-side combine, but the shuffle carries ONE wide row per doc instead
    of ``num_hashes`` keyed rows, and everything downstream (hidx explode,
    band keys) becomes a map-side projection — no second shuffle. Flat
    min/when expressions stay inside whole-stage codegen (nested
    higher-order-function variants are CodegenFallback and measured slower)."""
    a, b, c = minhash_perm_consts(num_hashes)
    sh = word_shingles(df, id_col, text_col, k, tokenizer=tokenizer)
    # ONE md5 per shingle yielding the (h0, h1) base pair (CollapseProject
    # keeps the alias single-evaluated — it never inlines a non-cheap
    # expression referenced more than once), then one linear permutation per
    # hash as COLUMNS — no hidx explode (16× fewer rows through the
    # aggregate), no conditional buffer updates (each min feeds from its own
    # column)
    base = _base_hash_pair(sh)
    hashed = base.select(
        "id",
        *[
            (
                (
                    F.lit(a[i]) * F.col("h0")
                    + F.lit(b[i]) * F.col("h1")
                    + F.lit(c[i])
                )
                % MINHASH_P
            ).alias(f"h{i}")
            for i in range(num_hashes)
        ],
    )
    return hashed.groupBy("id").agg(
        *[F.min(F.col(f"h{i}")).alias(f"m{i}") for i in range(num_hashes)]
    )


def minhash_signature_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    tokenizer: str = "simple",
) -> DataFrame:
    """(id, hidx, minh) minhash signature with ONE shuffle carrying one wide
    row per doc (see ``_wide_signature``), versus ``word_shingles`` ∘
    ``minhash_signatures`` whose groupBy(id, hidx) shuffles ``num_hashes``
    keyed rows per doc. Same output, byte-identical minima."""
    wide = _wide_signature(df, id_col, text_col, k, num_hashes, tokenizer)
    return wide.select(
        "id",
        F.posexplode(
            F.array(*[F.col(f"m{i}") for i in range(num_hashes)])
        ).alias("hidx", "minh"),
    )


def lsh_band_keys(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """(id, band, bkey) band keys: banding-before-shuffle. The signature
    shuffle carries one wide row per doc, band keys are a map-side
    projection on top, and the bucket groupBy that follows carries ``bands``
    rows/doc — versus banding ``minhash_signatures`` output, whose
    groupBy(id, band) adds a second ``num_hashes``-rows/doc shuffle. Keys
    are byte-identical (same sorted "hidx:minh" concatenation, same md5)."""
    wide = _wide_signature(df, id_col, text_col, k, num_hashes)

    def bkey(b: int) -> F.Column:
        parts = F.array(
            *[
                F.concat(F.lit(f"{i}:"), F.col(f"m{i}").cast("string"))
                for i in range(b * rows_per_band, (b + 1) * rows_per_band)
            ]
        )
        return md5s(F.concat_ws("|", F.sort_array(parts)))

    band_structs = F.array(
        *[
            F.struct(F.lit(b).cast("int").alias("band"), bkey(b).alias("bkey"))
            for b in range(bands)
        ]
    )
    return wide.select("id", F.explode(band_structs).alias("bb")).select(
        "id", "bb.band", "bb.bkey"
    )


def capped_member_lists(
    df: DataFrame,
    keys: list[str],
    id_col: str,
    cap: int,
    min_n: int = 2,
    salt: int = 16,
) -> DataFrame:
    """(keys..., n, ids) per group with ``min_n <= n <= cap``, with a
    bounded phase-2 merge buffer under key skew.

    A plain ``groupBy(keys).agg(collect_list(id))`` materializes a viral
    key's FULL member list in one reducer buffer before the size filter can
    drop it — at corpus scale a boilerplate shingle / flooded LSH bucket is
    millions of ids in one aggregation buffer (sort-based fallback spills
    rows, but the emitted array for one key must still fit in memory).
    Two salted phases split it: phase 1 aggregates per (keys, xxhash64(id)
    mod salt), so each of its buffers holds one salt slice — still about
    |group|/salt ids for a viral key, NOT bounded by ``cap``. Phase 2 merges
    the ≤``salt`` partials per key, slicing every partial to ``cap``+1
    elements first; only this merge buffer is bounded, at salt·(cap+1) ids
    instead of the key's full membership. Groups that survive
    the filter are never truncated: n ≤ cap implies every partial list has
    ≤ cap elements, below the slice. The salt key is DETERMINISTIC
    (xxhash64 of the id, not rand()), so task retries re-produce the same
    placement (SPARK-38388). ``n`` sums the un-sliced partial counts, so
    the filter sees the true group size."""
    p1 = df.groupBy(
        *keys, F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt)).alias("_slt")
    ).agg(
        F.count("*").alias("_pn"), F.collect_list(id_col).alias("_pids")
    )
    return (
        p1.groupBy(*keys)
        .agg(
            F.sum("_pn").alias("n"),
            F.flatten(
                F.collect_list(F.slice("_pids", 1, cap + 1))
            ).alias("ids"),
        )
        .filter((F.col("n") >= min_n) & (F.col("n") <= cap))
    )


def lsh_candidate_pairs_from_keys(
    keys: DataFrame, max_bucket: int = 50
) -> DataFrame:
    """Candidate pairs (a, b), a < b, from map-side band keys (see
    ``lsh_band_keys``): ONE bucket-keyed groupBy yields the size cap and
    the member list, and pairs explode MAP-SIDE from the list (nested
    explode of the same row — bounded by max_bucket² per bucket). Buckets
    of more than ``max_bucket`` members (boilerplate floods) emit no pairs.
    Only the final cross-band pair dedup shuffles. Member lists come from
    the skew-bounded salted aggregation (``capped_member_lists``), so a
    flooded bucket never holds its full membership in one merge buffer."""
    sized = capped_member_lists(
        keys, ["band", "bkey"], "id", cap=max_bucket, min_n=2
    )
    return (
        sized.select(F.explode("ids").alias("a"), "ids")
        .select("a", F.explode("ids").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def jaccard_pairs(
    shingles: DataFrame, candidates: DataFrame, min_intersection: int = 1
) -> DataFrame:
    """Exact shingle Jaccard for candidate pairs, as integer counts:
    (a, b, inter, uni) — engine-exact, no floating point.

    The shingle frame is first SEMI-JOINED down to documents that appear in
    some candidate pair: sizes and intersections only ever consume those
    docs (all joins below are inner on candidate endpoints), so shuffling
    the full corpus's shingles for them was pure waste — after LSH/df-cap
    candidate generation the candidate-doc set is a small fraction of the
    corpus (guide §3.2: reduce the big side before shuffling it)."""
    # materialize the candidate pairs once: they feed the semi-join build
    # side AND the intersection join — without this the (expensive)
    # candidate-generation subtree executes twice
    candidates = candidates.localCheckpoint(eager=True)
    cand_docs = (
        candidates.select(F.col("a").alias("id"))
        .unionByName(candidates.select(F.col("b").alias("id")))
        .distinct()
    )
    shingles = shingles.join(cand_docs, "id", "left_semi")
    sizes = shingles.groupBy("id").agg(F.count("*").alias("sz"))
    sa = shingles.select(F.col("id").alias("a"), "shingle")
    sb = shingles.select(F.col("id").alias("b"), "shingle")
    inter = (
        candidates.join(sa, "a")
        .join(sb, ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.filter(F.col("inter") >= min_intersection)
        .join(sizes.select(F.col("id").alias("a"), F.col("sz").alias("sza")), "a")
        .join(sizes.select(F.col("id").alias("b"), F.col("sz").alias("szb")), "b")
        .select(
            "a", "b", "inter",
            (F.col("sza") + F.col("szb") - F.col("inter")).alias("uni"),
        )
    )


def duplicate_clusters(
    pairs: DataFrame,
    iters: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over a candidate-pair graph → (id, keep_id):
    every member of a duplicate cluster mapped to the cluster's SHORTLEX-
    minimum id (shortest stringified id first, ties broken lexicographically)
    as the canonical survivor — the step that turns near-dup PAIRS
    (lsh_candidate_pairs_from_keys / embedding_near_duplicates) into
    actionable dedup clusters. Ids are strings or ints; ints (and digit
    strings with no leading zeros) order NUMERICALLY under shortlex, matching
    ``exact_duplicates``' numeric min. For non-numeric string ids of
    unequal length the survivor is the SHORTEST id, not the lexicographic
    minimum (``'z'`` beats ``'abc'``). Singletons never appear.

    Algorithm: min-label propagation with pointer jumping. Each round every
    node adopts the smallest label in its neighborhood (one join + one
    min-aggregate over the undirected edge list), then labels compress by
    an ESCALATING run of label-of-label jumps (1, 2, then 4 per round):
    the edge-list join is the expensive shuffle, the jumps touch only the
    n-row label table, so deep rounds compress 2^4 levels and long chains
    converge in ~¼ the edge-join rounds while shallow graphs stop after
    round 1-2 without paying for unused jumps. Rounds and jumps run on
    ``fixpoint.iterate``, checkpointed per jump so the plan stays linear.

    ``iters`` fixes the round count (engine-reproducible mid-state, what
    the unrolled SQL oracle mirrors); default runs to CONVERGENCE (label
    set stable), bounded by ``fixpoint.MAX_ROUNDS`` — hitting the bound
    raises ``fixpoint.PathDepthError`` rather than returning a silently-
    unconverged labeling. ``stats``, when given a dict, receives
    ``{"rounds": n}`` — observability for the O(log n) claim (tests assert
    the bound on adversarial long-chain graphs)."""
    e = pairs.select(F.col("a").cast("string"), F.col("b").cast("string"))
    # materialize the undirected edge list ONCE: every propagation round
    # joins it, and without this the whole upstream candidate-pair pipeline
    # (at corpus scale: the full LSH derivation) would re-execute per round.
    # Hash-partition it by the neighbor key BEFORE the checkpoint: every
    # round's neighborhood join probes on ``b``, so the edge list — the
    # largest frame in the loop — is laid out for that join once instead
    # of reshuffled per round (guide §2.4: share one exchange), and the
    # union's doubled partition count collapses to the configured shuffle
    # parallelism (half the per-round scan tasks at bench scale).
    und = fixpoint.checkpoint(
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .repartition("b")
    )
    # shortlex ordering agrees with numeric order for digit strings — the
    # same survivor rule as exact_duplicates' numeric min for integer ids
    sl = lambda c: F.struct(F.length(c).alias("n"), c.alias("s"))

    def smaller(cand: str, cur: str) -> Column:
        return (
            F.when(F.col(cand).isNotNull() & (sl(F.col(cand)) < sl(F.col(cur))),
                   F.col(cand))
            .otherwise(F.col(cur))
            .alias("lbl")
        )

    def jump(labels: DataFrame) -> DataFrame:
        # pointer jumping: lbl := label(lbl) — halves chain depth per jump
        return labels.join(
            labels.select(F.col("id").alias("lbl"), F.col("lbl").alias("ll")),
            "lbl",
            "left",
        ).select("id", "prev", smaller("ll", "lbl"))

    jumps: list[int] = []  # jumps per round so far

    def propagate(labels: DataFrame) -> DataFrame:
        # neighborhood min: smallest label among self and neighbors
        nb_min = (
            und.select(F.col("a").alias("id"), F.col("b").alias("nb"))
            .join(
                labels.select(F.col("id").alias("nb"), F.col("lbl").alias("nl")),
                "nb",
            )
            .groupBy("id")
            .agg(F.min(sl(F.col("nl"))).alias("m"))
            .select("id", F.col("m.s").alias("nl"))
        )
        # the round's starting label rides along as `prev` so the
        # convergence probe is a filter over the ALREADY MATERIALIZED
        # checkpoint blocks — not an extra join job against the previous
        # round per iteration
        stepped = labels.join(nb_min, "id", "left").select(
            "id", F.col("lbl").alias("prev"), smaller("nl", "lbl")
        )
        # ESCALATING jumps per round (1, 2, then 4): each jump is a
        # self-join of the (n-row) label table only — far cheaper than the
        # neighborhood-min step, which joins the (2m-row) edge list — so
        # deep rounds compress 2^4 levels and the round count (and with it
        # the edge-join shuffle count) drops ~4× for long-chain graphs,
        # while shallow graphs (LSH near-dup clusters, diameter ≤ 3) stop
        # after round 1-2 without paying for jumps they never needed.
        # The converged fixpoint is unchanged: labels only decrease, stay
        # within the component, and the convergence probe still requires a
        # full round (neighborhood + jumps) to be a no-op. Every jump is
        # checkpointed — all but the last by the inner iterate, the last by
        # the round itself (a chained self-join re-executes its subtree —
        # measured slower than the extra job).
        jumps.append(min(2 ** len(jumps), 4))
        return jump(fixpoint.iterate(jump, stepped, rounds=jumps[-1] - 1))

    labels = (
        und.select(F.col("a").alias("id"), F.col("b").alias("nb"))
        .groupBy("id")
        .agg(F.min(sl(F.col("nb"))).alias("m"))
        .select("id", F.col("m.s").alias("nl"))
        .select("id", smaller("nl", "id"))
    )
    labels = fixpoint.iterate(
        propagate, labels, rounds=iters, changed=F.col("lbl") != F.col("prev")
    )
    if stats is not None:
        stats["rounds"] = len(jumps)
    return labels.select("id", F.col("lbl").alias("keep_id"))


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16
) -> DataFrame:
    """Per-doc SimHash over distinct tokens (bit-vote of token md5 bits).

    Bit j of token t = parity of the j-th hex digit of md5(t). Signature bit =
    1 iff strictly more set-votes than clear-votes (ties → 0). Returns
    (id, simhash) with the signature as a ``bits``-char '0'/'1' string —
    engine-portable, band-sliceable with substr.

    Shuffle shape (the ``_wide_signature`` trick): the ``bits`` votes are
    projected map-side as COLUMNS of one row per token and aggregated by a
    SINGLE groupBy(id) with ``bits`` sums — one wide row per doc through the
    shuffle, versus the previous (id, bit, vote) explode whose groupBy
    carried ``bits`` keyed rows per token (16× the shuffle volume) and
    needed a second groupBy(id) to assemble the signature. Flat when/sum
    expressions also stay inside whole-stage codegen (the nested-HOF explode
    variant was CodegenFallback). Output byte-identical."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(F.split(F.lower(F.col(text_col)), " "))
        ).alias("tok"),
    )
    # hex digit → parity: digits 1,3,5,7,9,b,d,f are odd
    h = toks.select("id", md5s(F.col("tok")).alias("h"))
    votes = h.select(
        "id",
        *[
            F.when(
                F.substring(F.col("h"), j, 1).isin(
                    "1", "3", "5", "7", "9", "b", "d", "f"
                ),
                F.lit(1),
            ).otherwise(F.lit(-1)).alias(f"v{j}")
            for j in range(1, bits + 1)
        ],
    )
    agg = votes.groupBy("id").agg(
        *[F.sum(F.col(f"v{j}")).alias(f"sv{j}") for j in range(1, bits + 1)]
    )
    sig = F.concat(
        *[
            F.when(F.col(f"sv{j}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for j in range(1, bits + 1)
        ]
    )
    return agg.select("id", sig.alias("simhash"))


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """Cross-corpus duplicate-LINE removal (the CCNet / RefinedWeb
    boilerplate pass): a line occurring in >= ``min_docs`` DISTINCT
    documents is boilerplate (nav bars, cookie banners, license footers)
    and is dropped from every document; line order is otherwise preserved.

    Returns (id, n_lines, n_kept, text_kept) — one row per input document,
    ``text_kept = ''`` when every line was boilerplate.

    Scale shape: posexplode lines -> groupBy(md5(line)) counting DISTINCT
    docs (the two-level count collapses map-side to at most one row per
    (line-hash, doc) before the shuffle) -> hash-join verdicts back ->
    groupBy(id) reassembly over (pos, line) structs. Two keyed shuffles
    (line hash, then doc id), no driver hop; the hash join carries a
    16-byte key, never the line text. Hot boilerplate lines skew the hash
    groupBy, but its payload is count-only (AQE skew split handles the
    rest); reassembly is keyed by doc id, which is near-uniform."""
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), sep, -1)).alias("pos", "line"),
    ).withColumn("h", md5s(F.col("line")))
    boiler = (
        lines.select("h", "id")
        .groupBy("h")
        .agg(F.count_distinct("id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("h", F.lit(True).alias("_drop"))
    )
    verdict = lines.join(boiler, "h", "left")
    return verdict.groupBy("id").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.when(F.col("_drop").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_drop").isNull(),
                            F.struct(F.col("pos"), F.col("line")),
                        )
                    )
                ),
                lambda s: s.getField("line"),
            ),
            sep,
        ).alias("text_kept"),
    )


def window_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
    tokenizer: str = "simple",
) -> DataFrame:
    """Exact substring-window dedup (the Lee-et-al. "Deduplicating Training
    Data" pass, window-hash formulation): every k-TOKEN window of every
    document is hashed; a window whose hash occurs in >= ``min_docs``
    DISTINCT documents is duplicated text. Per document this reports how
    much of it is made of such cross-corpus windows.

    Returns (id, n_windows, n_dup_windows, dup_ratio_x1000) — one row per
    input document (docs shorter than k tokens report 0/0/0):

    - ``n_windows``      total k-token windows (with multiplicity);
    - ``n_dup_windows``  window OCCURRENCES whose hash appears in >=
      ``min_docs`` distinct docs (a window repeated within one doc only
      does NOT count — the duplication must be cross-document);
    - ``dup_ratio_x1000`` floor(n_dup_windows * 1000 / n_windows), 0 for
      empty docs (integer-exact so the DuckDB oracle hashes bit-equal).

    Scale shape (10^12 docs): windows stage from ONE tokens projection
    (BENCH.md §9); the cross-doc occurrence count shuffles at most one row
    per (window-hash, doc) — the map-side distinct collapses within-doc
    repeats before the shuffle, so viral boilerplate costs one row per doc
    that carries it, not one per occurrence. Verdicts hash-join back on the
    16-byte window hash (never the window text) and the per-doc rollup is
    keyed by near-uniform doc id. Two keyed shuffles total, no all-pairs
    product, no driver hop — the same economics as ``line_dedup`` but at
    token-window granularity, which catches duplicated PASSAGES that line
    splitting misses (reflowed text, concatenated boilerplate).

    Reference parity note: no reference counterpart (the reference is a
    KG converter); this is a first-class training-data op mandated by the
    round brief, modeled on arXiv:2107.06499 §4.1 (ExactSubstr).
    """
    staged = tokens.tokens_frame(df, id_col, text_col, mode=tokenizer)
    wins = staged.select(
        "id",
        F.explode(
            tokens.kgrams_from_tokens(F.col("toks"), k)
        ).alias("win"),
    ).select("id", md5s(F.col("win")).alias("h"))
    # one row per (hash, doc) BEFORE the shuffle; count distinct docs
    shared = (
        wins.dropDuplicates(["h", "id"])
        .groupBy("h")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("h", F.lit(True).alias("_dup"))
    )
    per_occ = wins.join(shared, "h", "left")
    counts = per_occ.groupBy("id").agg(
        F.count("*").cast("long").alias("n_windows"),
        F.sum(F.when(F.col("_dup").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_dup_windows"),
    )
    # restore short docs (< k tokens -> zero windows -> lost by explode)
    base = staged.select("id")
    return base.join(counts, "id", "left").select(
        "id",
        F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
        F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
        F.when(
            F.coalesce("n_windows", F.lit(0)) == 0, F.lit(0).cast("long")
        )
        .otherwise(
            F.floor(
                F.coalesce("n_dup_windows", F.lit(0)) * 1000.0
                / F.col("n_windows")
            ).cast("long")
        )
        .alias("dup_ratio_x1000"),
    )
