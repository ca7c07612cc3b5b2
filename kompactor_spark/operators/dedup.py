"""Deduplication operators (SURVEY §2.B L1-L2 + driver mandate):
exact, n-gram Jaccard, MinHash-LSH, SimHash.

Scale notes (100 TB discipline):
- exact: one hash-shuffle on the text key (map-side partial agg free).
- n-gram Jaccard: NEVER all-pairs at scale — candidate pairs come from
  an inverted shingle index (explode → self-join on shingle), which is
  the standard bounded-blowup shape; a band-limit caps hot shingles.
- MinHash-LSH: pyspark.ml MinHashLSH, seeded; banding via
  approxSimilarityJoin.
- SimHash: 64-bit md5-derived per-token hashes, per-bit majority vote
  aggregated JVM-side (no Python UDF).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, functions as F

from kompactor_spark.operators.text import md5_hash60, tokens


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Canonical doc per exact text: min id wins (SURVEY L1)."""
    return df.groupBy(text_col).agg(
        F.min(id_col).alias("canonical_id"),
        F.count("*").cast("bigint").alias("n_copies"),
    )


def shingles_of_tokens(ts, n: int = 3) -> F.Column:
    """Distinct n-gram shingles from an ALREADY-MATERIALIZED token-array
    column. Callers must project ``tokens(text)`` into its own column
    first (see :func:`_shingle_index`): higher-order-function lambdas get
    no subexpression elimination, so referencing an inline ``split``
    from every ``element_at`` re-splits the text per shingle element —
    measured 7x slower on the sf10 representative set (3.9 s -> 0.5 s
    for the same 260k-shingle index)."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(ts) - n, F.lit(0)))
    return F.array_distinct(
        F.when(
            F.size(ts) >= n,
            F.transform(idx, lambda i: F.concat_ws(" ", *[F.element_at(ts, i + k + 1) for k in range(n)])),
        ).otherwise(F.array(F.concat_ws(" ", ts)))
    )


def shingles(col, n: int = 3) -> F.Column:
    """Distinct n-gram token shingles ('tok1 tok2 tok3' strings).

    PERF: inlines the tokenization into every element reference — fine
    for one-off expressions, but hot paths must materialize the token
    array in a projection and use :func:`shingles_of_tokens` (7x on
    long texts; see its docstring)."""
    return shingles_of_tokens(tokens(col), n)


def _shingle_index(df, id_col, text_col, n):
    """EXPLODED (id, shingle) index with the token array materialized
    ONCE in its own projection and the generator consuming the shingle
    expression DIRECTLY — both halves matter:

    - tokenizing in a separate projection makes the shingle lambda
      reference an attribute instead of re-splitting the text per
      element (HOF lambdas get no subexpression elimination);
    - exploding in the SAME select keeps the shingle array anonymous.
      Naming it in its own projection lets InferFiltersFromGenerate's
      ``size(sh) > 0`` predicate push through the single-reference
      alias and re-inline the tokenization per element — 7 ``split()``
      copies in the physical plan and a 6x slowdown at sf10 (3.7 s vs
      0.6 s for the same 260k-shingle index). With the expression
      inline, the inferred filter lands ABOVE the token projection
      (``_tk`` is multiply-referenced, so pushdown stops) and the plan
      keeps exactly one split().
    """
    tk = df.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("_tk"))
    return tk.select(
        "id", F.explode(shingles_of_tokens(F.col("_tk"), n)).alias("shingle")
    )


def _shingle_docs_array(df, id_col, text_col, n):
    """(id, sh) ARRAY projection for consumers that need the whole
    per-doc shingle set (MinHash signatures). The token array is still
    materialized once; note any ``where(size(sh) > 0)`` a caller adds
    will push through the alias and re-inline the shingle expression
    into the filter — acceptable for the T-class recall baselines that
    use this, but hot H-class paths must use :func:`_shingle_index`."""
    tk = df.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("_tk"))
    return tk.select("id", shingles_of_tokens(F.col("_tk"), n).alias("sh"))


def _candidate_pair_bound(inv, directed: bool) -> int:
    """Exact upper bound on the candidate pairs the inverted-index
    self-join will emit: sum over shingles of f*(f-1)/2 (or f*(f-1)
    directed). One tiny aggregate over the (already hot-filtered)
    index — the 100 TB defensive check that turns a mis-tuned
    max_shingle_freq into a loud error instead of an OOM hours into
    the expansion join (VERDICT r5 #8)."""
    f = F.col("count").cast("double")
    pairs = f * (f - F.lit(1.0)) / F.lit(1.0 if directed else 2.0)
    row = (
        inv.groupBy("shingle")
        .count()
        .agg(F.sum(pairs).alias("b"))
        .collect()[0]
    )
    return int(row["b"] or 0)


def _guard_pairs(inv, max_candidate_pairs, directed):
    if max_candidate_pairs is None:
        return inv
    # the bound pass re-reads the index subtree: checkpoint it so the
    # shingling scan runs once, not twice
    inv = inv.localCheckpoint(eager=False)
    bound = _candidate_pair_bound(inv, directed)
    if bound > max_candidate_pairs:
        raise ValueError(
            f"candidate-pair bound {bound} exceeds max_candidate_pairs="
            f"{max_candidate_pairs}; lower max_shingle_freq or raise the ceiling"
        )
    return inv


# Hot-shingle anti-join dispatch (round 7, VERDICT r6 #6 — the escape
# hatch is now code, not a docstring instruction). The hot set's
# cardinality is bounded by |index| / max_shingle_freq in the
# adversarial worst case (vocabulary-scale on real text), so the input
# corpus's Catalyst size estimate bounds the broadcast payload: with
# ~6 text bytes per shingle-index row and ~64 B per broadcast hot row,
# a 4 GiB input estimate caps the WORST-CASE hot set near
# 4 GiB / 6 / 1000 * 64 ≈ 45 MB — comfortably driver-safe. Above the
# bound (any real 100 TB corpus) the hint is dropped and the anti-join
# co-partitions on the same shingle key the pinned expansion join
# already uses — one extra keyed exchange instead of a driver OOM.
# Same estimate source as quantiles._compact_input; estimate-opaque
# inputs keep the broadcast (the historical behavior, and non-scan
# inputs of unknown size are test-scale in practice).
_HOT_BCAST_MAX_INPUT_EST = 4 << 30

# The shared inverted index is read by three consumers (sizes, hot set,
# anti-join left); checkpointing it makes them share one scan+shingle
# compute. Module switch exists ONLY so plan tests can see the
# REPARTITION_BY_NUM pin that the checkpoint's plan cut would hide.
_CHECKPOINT_INDEX = True


def _hot_set_broadcastable(df: DataFrame) -> bool:
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        est = None
    if est is not None and est >= (1 << 60):
        # stats-less plans (LogicalRDD/createDataFrame) report the
        # defaultSizeInBytes sentinel (Long.MaxValue), not a real size
        # (every scale-relevant input here is a parquet scan with real
        # stats — a 100 TB scan estimate is ~2^47, far below this
        # cutoff); treat as unknown
        est = None
    if est is None:
        # unknown size: broadcast, the historical behavior — unless the
        # bound is negative ("never broadcast", the test override)
        return _HOT_BCAST_MAX_INPUT_EST >= 0
    return est <= _HOT_BCAST_MAX_INPUT_EST


def _inverted_index(df, id_col, text_col, n, max_shingle_freq):
    """Shared blocking layout for the exact pairwise dedup ops:
    fan the compact text scan across cores (shingling is CPU-bound and
    a zstd documents file often arrives as ONE input split —
    tables.fan_out), build the exploded (id, shingle) inverted index,
    drop shingles hotter than max_shingle_freq (stopword-shingle skew
    guard; the hot set rides a broadcast anti-join below
    ``_HOT_BCAST_MAX_INPUT_EST``, a co-partitioned shuffle anti-join
    above it — see the dispatch note there), and PIN the
    index's partitioning on the shingle key with an
    explicit width: the self-join downstream is an EXPANSION join
    (a shingle shared by f docs emits ~f² pairs), and AQE sizes its
    post-shuffle partitions from the small INPUT map outputs — at 10×
    the grading corpus that collapsed the pair generation to one task
    (l2_containment_pairs: 679 s at sf1 before this fix, single-task
    stages; scripts/perf_smoke.py is the sweep that caught it).
    """
    from kompactor_spark.operators.expansion import pin_expansion_width
    from kompactor_spark.tables import fan_out

    # The index feeds THREE consumers (per-doc sizes, the hot-shingle
    # aggregate, and the anti-join's left side): pin its partitioning
    # FIRST and checkpoint, so the corpus is scanned+shingled once and
    # every consumer reads the materialized, shingle-partitioned index
    # (the hot aggregate and the anti-join then need no further
    # exchange — ClusteredDistribution(shingle) is already satisfied;
    # the checkpoint write is the same IO class as the pin shuffle that
    # was already mandatory). Only sizes pays its own small id-keyed
    # exchange.
    inv0 = pin_expansion_width(
        _shingle_index(fan_out(df), id_col, text_col, n), ["shingle"]
    )
    if _CHECKPOINT_INDEX:
        # NOTE: the lazy checkpoint replaces the logical plan with an
        # RDD scan, so the REPARTITION_BY_NUM pin above is no longer
        # visible in explain output — plan tests flip this switch off
        # to pin the pre-checkpoint plan (the pin still executes inside
        # the checkpointed lineage).
        inv0 = inv0.localCheckpoint(eager=False)
    # per-doc distinct-shingle counts straight off the exploded index
    # (shingles_of_tokens array_distincts per doc, so count == size(sh);
    # a size(sh) projection would recompute the whole shingle subtree)
    sizes = inv0.groupBy("id").agg(F.count(F.lit(1)).cast("bigint").alias("n_sh"))
    hot = inv0.groupBy("shingle").count().where(F.col("count") > max_shingle_freq).select("shingle")
    if _hot_set_broadcastable(df):
        hot = F.broadcast(hot)
    inv = inv0.join(hot, "shingle", "left_anti")
    return sizes, inv


# One-task fused kernel dispatch (round 7 — the a22/quantiles pattern
# applied to the pairwise dedup shape). A model-sized corpus — the
# collapse-first representative sets above all, ~5k distinct texts even
# when the raw corpus is 100x-replicated — pays more in stage launches
# (index checkpoint, sizes agg, hot agg, expansion join, two-level
# count, sizes join: ~8 stages x the 0.25-0.7 s per-stage floor) than
# in compute. Below these bounds the WHOLE verify (tokenize, shingle,
# doc-frequency filter, inverted index, chunk-vectorized pair counting,
# metric + threshold) runs in ONE Arrow task; at real scale the
# distributed inverted-index path is untouched. Dispatch is a measured
# count (one tiny job; the text-byte check runs only when the count is
# already small, so large corpora never scan text for the dispatch).
# Set either bound negative to force the distributed path (tests).
_FUSED_PAIRS_MAX_REPS = 8192
_FUSED_PAIRS_MAX_TEXT_BYTES = 64 << 20
# pair-instance chunk size for the kernel's vectorized counting: caps
# peak memory at ~2 arrays x chunk int64 regardless of shingle skew
_KERNEL_PAIR_CHUNK = 1 << 24


def _pairs_small_input(df, id_col, text_col) -> bool:
    if _FUSED_PAIRS_MAX_REPS < 0 or _FUSED_PAIRS_MAX_TEXT_BYTES < 0:
        return False
    from kompactor_spark.tables import metadata_row_count

    # bare-parquet-scan inputs answer this from file footers (no job)
    n_rows = metadata_row_count(df)
    if n_rows is None:
        n_rows = df.count()
    if n_rows > _FUSED_PAIRS_MAX_REPS:
        return False
    # text bytes + id uniqueness in ONE second job (only reached for
    # small counts, so large corpora never pay either scan). Unique
    # NON-NULL ids are a kernel PRECONDITION (ADVICE r7): the kernel
    # treats rows as independent docs, so duplicate ids would emit
    # id_a == id_b rows and per-ROW sizes where the distributed join
    # excludes equal ids and its sizes aggregate merges them — route
    # such inputs distributed instead of silently switching semantics
    # (count_distinct ignores NULLs, so a NULL id also routes here).
    row = df.agg(
        F.sum(F.length(text_col)).alias("b"),
        F.count_distinct(F.col(id_col)).alias("d"),
    ).first()
    if int(row["d"] or 0) != n_rows:
        return False
    return int(row["b"] or 0) <= _FUSED_PAIRS_MAX_TEXT_BYTES


def _collapsed_small_input(canon, text_col) -> bool:
    """One-job dispatch for the collapse-first callers: canon ids are
    unique NON-NULL by construction (min-id per text group) and canon
    is already checkpointed, so :func:`_pairs_small_input`'s early-exit
    count and distinct-id check would only add a job — one combined
    agg over the materialized frame decides. The count early-exit
    exists to spare LARGE corpora a text scan; here the text was
    already scanned to build canon, and the agg reads the checkpoint."""
    if _FUSED_PAIRS_MAX_REPS < 0 or _FUSED_PAIRS_MAX_TEXT_BYTES < 0:
        return False
    row = canon.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.length(text_col)).alias("b")
    ).first()
    return (
        int(row["n"]) <= _FUSED_PAIRS_MAX_REPS
        and int(row["b"] or 0) <= _FUSED_PAIRS_MAX_TEXT_BYTES
    )


def _kernel_shingle_sets(texts, n: int) -> list[set]:
    """The kernel's exact tokenize+shingle (split(' '), keep empties,
    whole-text join under n tokens) — shared by :func:`_pairs_kernel`
    and the driver-side bound in :func:`_kernel_pair_bound` so the
    guard counts precisely the pairs the kernel would generate."""
    sets = []
    join = " ".join
    for t in texts:
        toks = ("" if t is None else t).split(" ")
        if len(toks) >= n:
            # zip-of-offsets n-gram walk: one C-level pass instead of a
            # Python slice per position (~2x on the bench corpus)
            sets.append(set(map(join, zip(*(toks[i:] for i in range(n))))))
        else:
            sets.append({join(toks)})
    return sets


def _kernel_pair_bound(texts, n: int, max_shingle_freq: int, directed: bool) -> int:
    """Exact candidate-pair bound for the fused kernel, computed
    DRIVER-side from the same doc-frequency state the kernel builds —
    sum over surviving shingles of f*(f-1)/2 (f*(f-1) directed), hot
    shingles (f > max_shingle_freq) excluded exactly like
    :func:`_candidate_pair_bound` over the anti-joined index. Lets
    guarded callers (max_candidate_pairs set) keep the one-task fast
    path while preserving the loud driver-side ValueError contract
    (VERDICT r7 #4): a worker-side raise would surface as an opaque
    PythonException. The texts are already dispatch-bounded
    (≤ _FUSED_PAIRS_MAX_REPS rows, ≤ _FUSED_PAIRS_MAX_TEXT_BYTES)."""
    from collections import Counter

    dfreq = Counter()
    for s in _kernel_shingle_sets(texts, n):
        dfreq.update(s)
    per = 1 if directed else 2
    return sum(f * (f - 1) // per for f in dfreq.values() if 1 < f <= max_shingle_freq)


def _kernel_guard(df, text_col, n, max_shingle_freq, max_candidate_pairs, directed):
    """Driver-side twin of :func:`_guard_pairs` for the kernel path.
    Collects the (dispatch-bounded) text column once and raises the
    same ValueError the distributed guard raises."""
    texts = [r[0] for r in df.select(text_col).collect()]
    bound = _kernel_pair_bound(texts, n, max_shingle_freq, directed)
    if bound > max_candidate_pairs:
        raise ValueError(
            f"candidate-pair bound {bound} exceeds max_candidate_pairs="
            f"{max_candidate_pairs}; lower max_shingle_freq or raise the ceiling"
        )


def _pairs_kernel(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
    max_shingle_freq: int,
    metric: str,
    copies_col: str | None = None,
) -> DataFrame:
    """One-Arrow-task twin of the inverted-index pair pipeline.

    Semantics replicated EXACTLY (parity-tested bit-for-bit against the
    distributed path in tests/test_pairs_kernel.py):

    - tokens: ``text.split(" ")`` == Spark ``split(text, ' ')`` (keeps
      empty tokens, ``"" -> [""]``);
    - shingles: distinct n-grams, or the single whole-text join when
      the doc has fewer than n tokens;
    - PRECONDITION (dispatch-enforced in :func:`_pairs_small_input`):
      ids are unique and non-NULL — the kernel treats rows as
      independent docs, so duplicate ids would diverge from the
      distributed path (equal-id pairs, per-row sizes);
    - per-doc sizes count ALL distinct shingles (the hot filter applies
      to candidate generation only, exactly like the distributed
      ``sizes`` aggregate over the pre-anti-join index);
    - hot filter: doc-frequency > max_shingle_freq drops the shingle;
    - metric division is the same float64 op the JVM performs
      (``n_shared/n_a`` resp. ``n_shared/(n_a+n_b-n_shared)``), so
      values are bit-identical.

    Pair counting is chunk-vectorized: postings are grouped by
    frequency class, each class's doc matrix emits its
    ``triu_indices`` pairs in numpy chunks of ``_KERNEL_PAIR_CHUNK``
    instances, and chunk counts merge with a unique+bincount pass —
    peak memory is bounded by the chunk size no matter how skewed the
    shingle distribution is.

    With ``copies_col`` set (the collapse-first callers), each input
    row's copy count is carried through and emitted as
    ``n_copies_a``/``n_copies_b`` — the whole collapsed verify is then
    ONE task, where the composed shape paid two extra multiplicity
    joins against the canon frame (round 8; the joins were pure
    stage-launch floor at model size).
    """
    directed = metric == "containment"
    id_t = df.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_t}, id_b {id_t}, {metric} double"
    if copies_col:
        out_schema += ", n_copies_a bigint, n_copies_b bigint"

    def compute(ids, copies, texts):
        """numpy core of the kernel: ids/copies are numpy arrays, texts
        an iterable of str|None; returns a dict of numpy output columns,
        or None when no pair survives."""
        from collections import defaultdict

        import numpy as np

        ndocs = len(ids)
        sets = _kernel_shingle_sets(texts, n)
        sizes = np.array([len(s) for s in sets], dtype=np.float64)

        # one unconditional postings pass; the hot filter moves to the
        # length test below — len(postings[sh]) IS the doc frequency
        # (sets are distinct per doc), so `2 <= len <= max_shingle_freq`
        # is exactly the old Counter-precomputed `dfreq[sh] <= max` gate
        # on lists that can pair, minus a whole pass over the shingles
        postings = defaultdict(list)
        for di, s in enumerate(sets):
            for sh in s:
                postings[sh].append(di)

        byf = defaultdict(list)
        for d in postings.values():
            if 2 <= len(d) <= max_shingle_freq:
                byf[len(d)].append(d)
        key_parts, cnt_parts = [], []
        # int32 pair keys: the dispatch bounds rows at
        # _FUSED_PAIRS_MAX_REPS (8192), so a*ndocs+b < 8192² = 2^26 —
        # comfortably inside int32. Halving the key/count width halves
        # the memory traffic of the sort-merge below, which is the
        # kernel's bandwidth-bound section (measured: the fin-stage ops
        # are what ambient memory-bandwidth contention stalls).
        if ndocs * ndocs >= (1 << 31):  # loud even under python -O (ADVICE r8)
            raise ValueError(
                f"fused pair kernel: ndocs={ndocs} overflows int32 pair-key "
                "packing (requires ndocs < 46341); lower the dispatch cap"
            )
        nd32 = np.int32(ndocs)
        for f, lists in byf.items():
            per_row = f * (f - 1) // 2
            iu, ju = np.triu_indices(f, k=1)
            if per_row > _KERNEL_PAIR_CHUNK:
                # a single posting list exceeds the chunk (possible only
                # with caller-raised max_shingle_freq ≳ 5800): slice its
                # pair index space so the chunk bound holds under ANY
                # shingle skew (ADVICE r7)
                for d in lists:
                    m = np.asarray(d, dtype=np.int32)
                    for s0 in range(0, per_row, _KERNEL_PAIR_CHUNK):
                        sl = slice(s0, s0 + _KERNEL_PAIR_CHUNK)
                        uk, uc = np.unique(
                            m[iu[sl]] * nd32 + m[ju[sl]], return_counts=True
                        )
                        key_parts.append(uk)
                        cnt_parts.append(uc.astype(np.int32))
                continue
            rows_per_chunk = max(1, _KERNEL_PAIR_CHUNK // per_row)
            for c0 in range(0, len(lists), rows_per_chunk):
                m = np.asarray(lists[c0 : c0 + rows_per_chunk], dtype=np.int32)
                # postings lists are ascending doc-index order, so a < b
                a = m[:, iu].ravel()
                b = m[:, ju].ravel()
                uk, uc = np.unique(a * nd32 + b, return_counts=True)
                key_parts.append(uk)
                cnt_parts.append(uc.astype(np.int32))
        if not key_parts:
            return None
        keys = np.concatenate(key_parts)
        cnts = np.concatenate(cnt_parts)
        uk, inv_idx = np.unique(keys, return_inverse=True)
        shared = np.bincount(inv_idx, weights=cnts)  # float64; counts < 2^53 exact
        xa = (uk // nd32).astype(np.int64)
        xb = (uk % nd32).astype(np.int64)

        if directed:
            a_idx = np.concatenate([xa, xb])
            b_idx = np.concatenate([xb, xa])
            s = np.concatenate([shared, shared])
            val = s / sizes[a_idx]
        else:
            # undirected output keyed by ID VALUE order (a.id < b.id in
            # the distributed join) — doc-INDEX order is input order,
            # not id order, so reorder per pair
            ia, ib = ids[xa], ids[xb]
            swap = ia > ib
            a_idx = np.where(swap, xb, xa)
            b_idx = np.where(swap, xa, xb)
            s = shared
            val = s / (sizes[a_idx] + sizes[b_idx] - s)
        keep = val >= threshold
        out = {
            "id_a": ids[a_idx][keep],
            "id_b": ids[b_idx][keep],
            metric: val[keep],
        }
        if copies_col:
            out["n_copies_a"] = copies[a_idx][keep]
            out["n_copies_b"] = copies[b_idx][keep]
        return out

    def run(batches):
        import pyarrow as pa

        parts = [b for b in batches if b.num_rows]
        if not parts:
            return
        tbl = pa.Table.from_batches(parts)
        out = compute(
            tbl.column(id_col).to_numpy(),
            tbl.column(copies_col).to_numpy() if copies_col else None,
            tbl.column(text_col).to_pylist(),
        )
        if out is not None:
            yield pa.RecordBatch.from_pydict(out)

    cols = [id_col, text_col] + ([copies_col] if copies_col else [])
    # mapInArrow, not mapInPandas (round 15): skipping the pandas
    # conversion on both sides took the graded l2_containment_collapsed
    # row from 2.17 s to 1.14 s median at sf1
    # (scripts/r15_pairs_boundary_ab_out.json)
    return df.select(*cols).coalesce(1).mapInArrow(run, out_schema)


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int = 1000,
    max_candidate_pairs: int | None = None,
) -> DataFrame:
    """Exact shingle-Jaccard near-dup pairs via inverted-index blocking.

    explode(shingles) → drop shingles hotter than max_shingle_freq
    (stopword-shingle skew guard) → self-join on shingle → count shared
    shingles per pair → exact Jaccard from |A|,|B|,|A∩B|. Only pairs
    sharing ≥1 (rare) shingle are ever materialized. With
    ``max_candidate_pairs`` set, an exact pair-count bound is computed
    BEFORE any pair is generated (from the inverted index on the
    distributed path, driver-side from the same shingling on the
    kernel path) and a ValueError is raised if it exceeds the
    ceiling — fail loudly, never OOM.

    Model-sized inputs (the collapse-first representative sets above
    all) take the one-task fused kernel instead — see
    ``_FUSED_PAIRS_MAX_REPS``; semantics identical, parity-tested.
    """
    # Guarded callers keep the fast path (VERDICT r7 #4): with
    # max_candidate_pairs set, the bound is computed DRIVER-side from
    # the kernel's own shingling over the dispatch-bounded collected
    # texts, so the loud-ValueError contract is preserved exactly
    # (a worker-side raise would surface as PythonException).
    if _pairs_small_input(df, id_col, text_col):
        if max_candidate_pairs is not None:
            _kernel_guard(
                df, text_col, n, max_shingle_freq, max_candidate_pairs, directed=False
            )
        return _pairs_kernel(
            df, id_col, text_col, n, threshold, max_shingle_freq, metric="jaccard"
        )
    sizes, inv = _inverted_index(df, id_col, text_col, n, max_shingle_freq)
    inv = _guard_pairs(inv, max_candidate_pairs, directed=False)

    a, b = inv.alias("a"), inv.alias("b")
    shared = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast("double")
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int = 1000,
    max_candidate_pairs: int | None = None,
) -> DataFrame:
    """Directed shingle-containment pairs: |A∩B| / |A| ≥ threshold
    (asymmetric Jaccard — catches documents mostly CONTAINED in another,
    e.g. a page embedded in a crawl of its aggregator, which symmetric
    Jaccard misses when the container is much larger). Same inverted-
    index blocking as jaccard_pairs (and the same optional
    ``max_candidate_pairs`` loud-failure guard); output is directed
    (id_a ⊂ id_b and id_b ⊂ id_a are separate rows). Model-sized
    inputs take the one-task fused kernel (``_FUSED_PAIRS_MAX_REPS``),
    semantics identical, parity-tested."""
    # guarded callers keep the fast path — see jaccard_pairs
    if _pairs_small_input(df, id_col, text_col):
        if max_candidate_pairs is not None:
            _kernel_guard(
                df, text_col, n, max_shingle_freq, max_candidate_pairs, directed=True
            )
        return _pairs_kernel(
            df, id_col, text_col, n, threshold, max_shingle_freq, metric="containment"
        )
    sizes, inv = _inverted_index(df, id_col, text_col, n, max_shingle_freq)
    inv = _guard_pairs(inv, max_candidate_pairs, directed=True)

    a, b = inv.alias("a"), inv.alias("b")
    shared = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") != F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    return (
        shared.join(sa, "id_a")
        .select(
            "id_a",
            "id_b",
            (F.col("n_shared").cast("double") / F.col("n_a").cast("double")).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
    )


def containment_pairs_collapsed(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int = 1000,
    max_candidate_pairs: int | None = None,
) -> DataFrame:
    """Containment pairs with EXACT-DUPLICATE COLLAPSE first — the
    scale path for duplicate-heavy corpora (crawls, replicated mirrors).

    Pairwise verify is quadratic in duplicate multiplicity: a corpus
    where each text recurs m times emits m² candidate rows per logical
    pair, so raw :func:`containment_pairs` does m²x the work for the
    same information. Measured on the 100x-replicated sf10 bench corpus
    (500k rows, 4,992 distinct texts): the raw operator's exact
    candidate bound is 10.4e9 rows — its expansion-join spill filled a
    79 GB disk — while this shape's verify runs on the ~5k collapsed
    representatives. The pipeline is: one hash shuffle collapses texts
    to (min-id canonical, copy count) — the L1 exact-dedup shape — then
    the SAME inverted-index containment runs over representatives, and
    each pair carries both multiplicities so callers can weight or
    re-expand. Output: (id_a, id_b, containment, n_copies_a,
    n_copies_b) over canonical ids; pairs BETWEEN copies of one text
    (containment 1.0 with itself) are represented by the collapsed row
    counts, not materialized.
    """
    # The collapsed frame is read by five downstream subtrees (shingle
    # index, sizes, hot-filter, and both multiplicity joins); without a
    # checkpoint each re-evaluates the full-corpus text shuffle —
    # measured 45 s -> ~6 s at sf10 (500k rows). The materialization is
    # the dedup OUTPUT (one row per distinct text), the natural
    # pipeline breakpoint at any scale.
    canon = (
        df.groupBy(text_col)
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).cast("bigint").alias("__n_copies"),
        )
        .localCheckpoint(eager=False)
    )
    # Model-sized representative sets run the WHOLE verify — pairs AND
    # both multiplicity columns — in one fused task (round 8): the
    # composed shape below paid two broadcast joins against canon that
    # were pure stage-launch floor at this size.
    if _collapsed_small_input(canon, text_col):
        if max_candidate_pairs is not None:
            _kernel_guard(
                canon, text_col, n, max_shingle_freq, max_candidate_pairs, directed=True
            )
        return _pairs_kernel(
            canon,
            id_col,
            text_col,
            n,
            threshold,
            max_shingle_freq,
            metric="containment",
            copies_col="__n_copies",
        )
    pairs = containment_pairs(
        canon.select(id_col, text_col),
        id_col=id_col,
        text_col=text_col,
        n=n,
        threshold=threshold,
        max_shingle_freq=max_shingle_freq,
        max_candidate_pairs=max_candidate_pairs,
    )
    ca = canon.select(F.col(id_col).alias("id_a"), F.col("__n_copies").alias("n_copies_a"))
    cb = canon.select(F.col(id_col).alias("id_b"), F.col("__n_copies").alias("n_copies_b"))
    return pairs.join(ca, "id_a").join(cb, "id_b").select(
        "id_a", "id_b", "containment", "n_copies_a", "n_copies_b"
    )


def jaccard_pairs_collapsed(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int = 1000,
    max_candidate_pairs: int | None = None,
) -> DataFrame:
    """Symmetric twin of :func:`containment_pairs_collapsed`: exact
    Jaccard pairs over exact-duplicate-collapsed representatives, with
    both copy counts carried. Same rationale (pairwise verify is
    quadratic in duplicate multiplicity — see
    containment_pairs_collapsed for the measured sf10 numbers); output
    (id_a, id_b, jaccard, n_copies_a, n_copies_b) over canonical
    min-ids."""
    canon = (
        df.groupBy(text_col)
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).cast("bigint").alias("__n_copies"),
        )
        # checkpoint: read by the dispatch agg + kernel on the fused
        # path, by 4 downstream subtrees (index, sizes, 2 joins) on the
        # composed path
        .localCheckpoint(eager=False)
    )
    # one fused task for model-sized representative sets — see
    # containment_pairs_collapsed
    if _collapsed_small_input(canon, text_col):
        if max_candidate_pairs is not None:
            _kernel_guard(
                canon, text_col, n, max_shingle_freq, max_candidate_pairs, directed=False
            )
        return _pairs_kernel(
            canon,
            id_col,
            text_col,
            n,
            threshold,
            max_shingle_freq,
            metric="jaccard",
            copies_col="__n_copies",
        )
    pairs = jaccard_pairs(
        canon.select(id_col, text_col),
        id_col=id_col,
        text_col=text_col,
        n=n,
        threshold=threshold,
        max_shingle_freq=max_shingle_freq,
        max_candidate_pairs=max_candidate_pairs,
    )
    ca = canon.select(F.col(id_col).alias("id_a"), F.col("__n_copies").alias("n_copies_a"))
    cb = canon.select(F.col(id_col).alias("id_b"), F.col("__n_copies").alias("n_copies_b"))
    return pairs.join(ca, "id_a").join(cb, "id_b").select(
        "id_a", "id_b", "jaccard", "n_copies_a", "n_copies_b"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    jaccard_threshold: float = 0.5,
    num_features: int = 1 << 18,
    seed: int = 42,
) -> DataFrame:
    """Approximate near-dup pairs via MinHash-LSH (pyspark.ml), seeded.

    Shingle → sparse binary vector (HashingTF) → MinHashLSH →
    approxSimilarityJoin at distance 1-τ. Randomized (seeded): tested
    by recall bound against exact Jaccard, never hash-checked.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    # NOTE: this wrapper is the RECALL BASELINE, not the scale path.
    # approxSimilarityJoin's internal explode+self-join under-estimates
    # its exploded hash side, so Spark used to pick a driver-breaking
    # broadcast for it at 10x the grading corpus (observed: borderline
    # OOM at sf1 under a 32 MB broadcast threshold). The SHUFFLE_MERGE
    # hint on the feature frame propagates through the wrapper's
    # internal join (strategy hints resolve against the join's child
    # SUBTREES, and both sides derive from this frame), pinning it to a
    # sort-merge join — plan-pinned in tests/test_plans.py. The hint
    # fixes the broadcast failure mode only; bucket caps, fan-out and
    # join width still aren't controllable through the wrapper, which
    # is why minhash_band_pairs below hand-rolls the same construction
    # with explicit banding — use IT beyond the grading scales.
    docs = _shingle_docs_array(df, id_col, text_col, n).where(F.size("sh") > 0)
    tf = HashingTF(inputCol="sh", outputCol="features", numFeatures=num_features, binary=True)
    feats = tf.transform(docs).hint("shuffle_merge")
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=num_hashes, seed=seed)
    model = mh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 1.0 - jaccard_threshold, distCol="jaccard_dist")
    return (
        pairs.where(F.col("datasetA.id") < F.col("datasetB.id"))
        .select(
            F.col("datasetA.id").alias("id_a"),
            F.col("datasetB.id").alias("id_b"),
            (F.lit(1.0) - F.col("jaccard_dist")).alias("est_jaccard"),
        )
    )


def minhash_band_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    rows_per_band: int = 2,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int = 200,
    seed: int = 42,
) -> DataFrame:
    """Hand-rolled MinHash band-bucket near-dup pairs — the explicit
    100 TB dedup shape (vs the pyspark.ml wrapper in minhash_lsh_pairs).

    Single pass, all JVM expressions, deterministic given ``seed``:

    1. signatures: k universal-hash minima per doc —
       ``sig_i = min over shingles of (a_i * xxhash64(sh) + b_i) mod P``
       (P = 2^31-1; operands pre-reduced mod P so the multiply never
       overflows a long under ANSI mode).
    2. banding: k/r bands of r rows; band key = (band_idx, joined sig
       slice). explode → one row per (doc, band).
    3. bucket join with EXPLICIT skew control: buckets larger than
       ``max_bucket_size`` (degenerate floods — boilerplate docs, empty
       shingle sets) are dropped before the self-join, bounding any
       bucket's pair blowup at max_bucket_size² instead of letting one
       hot bucket produce billions of candidate rows.
    4. exact verify: candidates' true shingle Jaccard via
       array_intersect sizes — output precision is exact; banding only
       bounds recall (P[candidate] = 1-(1-j^r)^(k/r): ≥0.99 at j=τ=0.5
       with k=32, r=2).

    Probability tuning and the band-bucket layout follow the standard
    MinHash-LSH construction (Broder; MMDS ch.3).
    """
    from kompactor_spark.tables import fan_out

    P = 2147483647  # 2^31 - 1 (Mersenne prime)
    rnd = __import__("random").Random(seed)
    coeffs = [(rnd.randrange(1, P), rnd.randrange(0, P)) for _ in range(num_hashes)]
    num_bands = num_hashes // rows_per_band

    # fan_out: the k-permutation signature pass is the CPU hot spot and
    # must not run on one input split (perf_smoke caught 365 s at sf1)
    docs = _shingle_docs_array(fan_out(df), id_col, text_col, n).where(F.size("sh") > 0)
    hs = F.transform(F.col("sh"), lambda s: F.pmod(F.xxhash64(s), F.lit(P)))

    def _perm(a, b):
        # closure factory: PySpark reads lambda arity from the signature,
        # so the coefficients must not appear as (defaulted) parameters
        return lambda h: F.pmod(F.lit(a) * h + F.lit(b), F.lit(P))

    sig_cols = [
        F.array_min(F.transform(hs, _perm(a, b))).alias(f"s{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    signed = docs.select("id", "sh", *sig_cols)

    bands = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band_idx"),
                F.concat_ws(
                    "_", *[F.col(f"s{bi * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("band_sig"),
            )
            for bi in range(num_bands)
        ]
    )
    exploded = signed.select("id", F.explode(bands).alias("band")).select(
        "id", F.col("band.band_idx").alias("band_idx"), F.col("band.band_sig").alias("band_sig")
    )

    hot = (
        exploded.groupBy("band_idx", "band_sig")
        .count()
        .where(F.col("count") > max_bucket_size)
        .select("band_idx", "band_sig")
    )
    # explicit width on the bucket key: the bucket self-join is an
    # expansion join (same AQE-input-sizing trap as _inverted_index)
    from kompactor_spark.operators.expansion import pin_expansion_width

    cool = pin_expansion_width(
        exploded.join(F.broadcast(hot), ["band_idx", "band_sig"], "left_anti"),
        ["band_idx", "band_sig"],
    )

    a, b = cool.alias("a"), cool.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )

    sh_a = docs.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = docs.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return (
        candidates.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select("id_a", "id_b", (inter / union).alias("jaccard"))
        .where(F.col("jaccard") >= jaccard_threshold)
    )


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64) -> DataFrame:
    """64-bit SimHash per document, md5-derived, fully JVM-side.

    Per-bit majority over token hashes computed with one explode +
    grouped SUMs of bit contributions (+1/-1), then bit reassembly.
    """
    from kompactor_spark.tables import fan_out

    tok = fan_out(df).select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("t"))
    h = tok.select("id", md5_hash60(F.col("t")).alias("h"))
    votes = h.groupBy("id").agg(
        *[
            F.sum(F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"b{b}")
            for b in range(min(bits, 60))
        ]
    )
    sig = F.lit(0).cast("bigint")
    for b in range(min(bits, 60)):
        sig = sig + F.when(F.col(f"b{b}") > 0, F.lit(1).cast("bigint") * (1 << b)).otherwise(0)
    return votes.select(F.col("id").alias(id_col), sig.alias("simhash"))


def hamming64(a, b) -> F.Column:
    return F.bit_count(a.bitwiseXOR(b)).cast("bigint")


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (brute force, JVM expressions).

    All-pairs is the correctness baseline; the scale path buckets by an
    LSH sign-signature first (see simsearch.lsh_partition_topk).
    """
    e = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("nrm", F.sqrt(F.aggregate(F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x)))
    a, b = e.alias("a"), e.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (dot / (F.col("a.nrm") * F.col("b.nrm"))).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def dedup_clusters(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over near-dup pairs → cluster id =
    min doc_id reachable. Returns (doc_id, cluster_id) for EVERY doc
    (singletons are their own cluster).

    Iterative min-label propagation: each round every node takes the
    min of its own label and its neighbors' labels; converges in
    O(component diameter) rounds. Near-dup graphs are overwhelmingly
    tiny cliques, so the diameter is small; `localCheckpoint` truncates
    the growing lineage each round (the standard Spark iterative-
    algorithm discipline — without it the plan tree doubles per round).

    CAVEAT: a component wider than ``max_iter`` hops is mislabeled when
    the round budget runs out (a RuntimeWarning fires — round 6 — but
    the returned labels are still the partial fixpoint). The registered
    l2_dedup_clusters query therefore uses :func:`dedup_clusters_star`
    (O(log n) rounds, same output) since round 5; this operator remains
    the cheaper choice when the caller can bound the diameter.
    """
    e = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    edges = edges.localCheckpoint()

    labels = all_ids.select(F.col(id_col).alias("node"), F.col(id_col).alias("label"))
    converged = False
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_min"))
        )
        new_labels = (
            labels.join(nbr_min, labels.node == nbr_min.src, "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        warnings.warn(
            f"dedup_clusters: label propagation did NOT converge within "
            f"max_iter={max_iter} rounds — components wider than the round "
            f"budget are mislabeled; raise max_iter or use dedup_clusters_star",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(F.col("node").alias(id_col), F.col("label").alias("cluster_id"))


def _cc_local_labels(edge_rows) -> dict:
    """Driver-side union-find over a BOUNDED edge list: label = min
    reachable id. Roots are kept at the component minimum (union always
    attaches the larger root under the smaller), so ``find`` returns
    the final label directly; path compression keeps the walk amortized
    near-constant. Used only below ``small_edge_bound`` edges — model
    state, same collect discipline as the quantile boundary rows."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for src, dst in edge_rows:
        ra, rb = find(src), find(dst)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def dedup_clusters_star(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 40,
    small_edge_bound: int = 1_000_000,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    same output contract as :func:`dedup_clusters` (cluster id = min
    reachable id, singletons included), but convergence in
    O(log n) rounds instead of O(component diameter).

    Why it exists: min-label propagation is fine for near-dup graphs
    (tiny cliques, diameter ~2) but a chain-shaped component of length
    d needs d rounds — at 100 TB one pathological long component (e.g.
    a template drifting gradually across a crawl) stalls the whole job,
    and a bounded ``max_iter`` silently MIS-LABELS whatever didn't
    converge. The star steps instead rewire every node toward its
    neighborhood minimum:

    - large-star: for each u, connect every LARGER neighbor to
      ``m = min(N(u) ∪ {u})`` — components contract exponentially while
      per-round skew stays bounded (a hub only ever emits to its own
      neighbors);
    - small-star: orient each edge (big → small), connect each node's
      smaller neighbors (and itself) to the minimum.

    Both steps are one groupBy + one join over the edge list — the same
    shuffle cost per round as a propagation round — with
    ``localCheckpoint`` lineage cuts. Convergence = the canonical edge
    set stops changing (count equality + empty symmetric difference);
    at the fixpoint edges ARE (node → component-min) stars, so the
    label read-off is a single aggregate. A 512-chain converges in ≤10
    rounds here vs 512 propagation rounds (test-pinned).

    SMALL-GRAPH SHORT-CIRCUIT (round 7, VERDICT r6 #3): when the
    canonical edge set is model-sized (``<= small_edge_bound`` rows —
    known for free from the convergence counter's first count), the
    O(log n) distributed rounds are pure job-launch floor: the
    collapse-first dedup pipeline hands this operator a ~5k-node
    representative graph whose CC rounds cost more in stage launches
    than the whole pair build. Below the bound the edges are collected
    and labeled by driver-side union-find (exact same min-label
    contract), and only the final singleton left-join stays
    distributed. 1M edges collect to tens of MB — the same bounded
    model-state class as the quantile boundary collects; every real
    >bound graph keeps the full distributed path.
    """
    # canonical undirected edge set, self-loops dropped
    e0 = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = (
        e0.where(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("src"),  # src = larger endpoint
            F.least("src", "dst").alias("dst"),
        )
        .distinct()
        .localCheckpoint()
    )

    n_edges = edges.count()
    if n_edges <= small_edge_bound:
        labels = _cc_local_labels(
            [(r["src"], r["dst"]) for r in edges.collect()]
        )
        spark = pairs.sparkSession
        node_t = all_ids.schema[id_col].dataType
        schema = (
            all_ids.select(F.col(id_col).alias("node"))
            .schema.add("label", node_t)
        )
        label_df = spark.createDataFrame(list(labels.items()), schema)
        return (
            all_ids.select(F.col(id_col).alias("node"))
            .join(F.broadcast(label_df), "node", "left")
            .select(
                F.col("node").alias(id_col),
                F.least(F.coalesce("label", "node"), F.col("node")).alias("cluster_id"),
            )
        )
    converged = False
    for _ in range(max_iter):
        # --- large-star: symmetric neighborhoods; larger neighbors -> m.
        # Output (v, m) has v > u >= m, i.e. it is ALREADY big->small
        # oriented and self-loop-free — no re-canonicalization shuffle.
        nbr = edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = nbr.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        ls = (
            nbr.join(mins, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        # --- small-star directly on the oriented large-star output:
        # connect each node's smaller neighbors and itself to the
        # minimum (duplicate edges are harmless under min/groupBy; the
        # single distinct below canonicalizes the round's output).
        smins = ls.groupBy("src").agg(F.min("dst").alias("m"))
        ss = (
            ls.join(smins, "src")
            .where(F.col("dst") != F.col("m"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .union(smins.select(F.col("src"), F.col("m").alias("dst")))
        )
        new_edges = (
            ss.where(F.col("src") != F.col("dst"))
            .select(
                F.greatest("src", "dst").alias("src"),
                F.least("src", "dst").alias("dst"),
            )
            .distinct()
            .localCheckpoint()
        )
        # converged iff the canonical edge set is unchanged; the
        # exceptAll pass only runs once counts agree (usually the final
        # round), so steady-state rounds cost one count job.
        n_new = new_edges.count()
        if n_new == n_edges and new_edges.exceptAll(edges).limit(1).count() == 0:
            edges = new_edges
            converged = True
            break
        edges, n_edges = new_edges, n_new
    if not converged:
        # ADVICE r5: surface the same silent-mislabel failure mode this
        # docstring criticizes in dedup_clusters instead of exiting
        # quietly with a possibly-unconverged edge set.
        warnings.warn(
            f"dedup_clusters_star: star contraction did NOT reach its "
            f"fixpoint within max_iter={max_iter} rounds — labels may be "
            f"incomplete; raise max_iter (O(log n) rounds suffice for any "
            f"graph, so hitting this means max_iter << log2(n))",
            RuntimeWarning,
            stacklevel=2,
        )

    # fixpoint edges are (node -> component min) stars; min() guards the
    # not-fully-converged max_iter escape identically to dedup_clusters
    member_min = edges.groupBy("src").agg(F.min("dst").alias("label"))
    return (
        all_ids.select(F.col(id_col).alias("node"))
        .join(member_min.withColumnRenamed("src", "node"), "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.least(F.coalesce("label", "node"), F.col("node")).alias("cluster_id"),
        )
    )
