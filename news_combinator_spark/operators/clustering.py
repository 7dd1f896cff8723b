"""Near-duplicate news clustering: LSH -> verify -> CC -> greedy relabel.

Replaces the reference's O(N²) nested-loop similarity join
(categorize.cpp:94-127; SURVEY.md J1/J2/J3) with the scale path:

1. tokenize (Arrow mapInPandas, shared kernel with the oracle)
2. tag selection: top-K per doc by (tf desc, doc-freq asc, word asc)
   — pure window ranking, integers only (see oracle/reference_impl.py
   for why the ordering is integer-typed)
3. MinHash signatures over token sets (pandas UDF, numpy-vectorized)
4. LSH banding: explode (band_id, band_hash) -> groupBy bucket ->
   emit candidate pairs (a < b) inside each bucket (applyInPandas,
   bucket size capped — a 10^6-doc bucket must not emit 10^12 pairs)
5. exact verify: the reference's directional seed-vocab cosine at
   tau = 0.85 (>=), computed per candidate pair in Arrow batches
6. connected components over verified edges (iterative hash-min label
   propagation, DataFrame joins, constant-depth lineage via
   localCheckpoint)
7. per-component greedy relabel (applyInPandas) reproducing the
   reference's scan-order star clusters EXACTLY — overlap semantics,
   noise cap > 5 dropped without consuming members, singleton seeds
   silent (categorize.cpp:120,148-165). Greedy never crosses a
   component boundary, so per-component greedy == the reference's
   global sequential loop, but runs in parallel across components.

Output matches the `news_category` shape (reetsee_news.sql:37-45):
cluster_id (seed doc), title, source_names (csv, seed first then
members ascending), day_time, abstract_ids (csv) + array columns.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.textfns import (
    sketch_counts,
    tokenize,
)
from ..oracle.reference_impl import (
    MAX_SIMILAR,
    SIM_BOUND,
    TAG_NUM,
)


def tokenize_docs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Add a `tokens` array column (Arrow-batched kernel)."""
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in docs.schema.fields
    )

    def _tok(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["tokens"] = pdf[text_col].map(lambda t: tokenize(t or ""))
            yield pdf

    return docs.mapInPandas(_tok, schema=f"{fields}, tokens array<string>")


def featurize_docs(
    docs: DataFrame, text_col: str = "text", num_perm: int = 64
) -> DataFrame:
    """ONE Arrow pass per doc: tokens + MinHash signature + per-doc
    term counts. Fusing the three kernels means the (large) token
    arrays cross the JVM<->Arrow boundary once instead of three times,
    and downstream tag ranking shuffles distinct (doc_id, word) rows
    instead of every token occurrence — the at-scale dominant shuffle
    shrinks by the average term frequency."""
    from collections import Counter

    def _feat(batches):
        for pdf in batches:
            toks_col, counts_col, wc_col = [], [], []
            for t in pdf[text_col]:
                toks = tokenize(t or "")
                toks_col.append(toks)
                counts_col.append(Counter(toks))
                wc_col.append(
                    [
                        {"word": w, "tf": n}
                        for w, n in Counter(
                            x for x in toks if len(x) > 1
                        ).items()
                    ]
                )
            sig_col, _ = sketch_counts(
                counts_col, num_perm, simhash=False
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "tokens": toks_col,
                    "sig": sig_col,
                    "wc": wc_col,
                }
            )

    return docs.select("doc_id", text_col).mapInPandas(
        _feat,
        schema=(
            "doc_id long, tokens array<string>, sig array<long>, "
            "wc array<struct<word string, tf long>>"
        ),
    )


def _tf_rows(tokens_df: DataFrame) -> DataFrame:
    """(doc_id, word, tf) — from a `featurize_docs` frame (has `wc`
    pre-counted in-kernel — preferred, occurrence explosion never
    shuffles) or any frame with a raw `tokens` column."""
    if "wc" in tokens_df.columns:
        return tokens_df.select(
            "doc_id", F.explode("wc").alias("e")
        ).select(
            "doc_id", F.col("e.word").alias("word"), F.col("e.tf").alias("tf")
        )
    toks = tokens_df.select(
        "doc_id", F.explode("tokens").alias("word")
    ).filter(F.length("word") > 1)
    return toks.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))


def doc_tags(tokens_df: DataFrame, k: int = TAG_NUM) -> DataFrame:
    """(doc_id, tags array): top-K by (tf desc, doc-freq asc, word asc).

    Distributed equivalent of KeywordExtractor.hpp:54-99's partial_sort
    with integer ordering (the engine default — the reference's idf
    dicts are absent from its repo; see doc_tags_tfidf for the float
    path when an idf table exists).
    """
    tf = _tf_rows(tokens_df)
    # tf rows are distinct per (doc_id, word), so doc-frequency is a
    # plain count per word — no dropDuplicates shuffle needed.
    df_counts = tf.groupBy("word").agg(F.count("*").alias("df"))
    # ONE hash aggregation instead of window-rank + regroup: collect
    # (-tf, df, word) structs per doc, array_sort (ascending struct
    # order == tf desc, df asc, word asc — the KeywordExtractor
    # ordering), slice k. The former row_number window sorted every
    # tf row inside a sort-based exchange and then re-grouped on the
    # same key; here the sort is per-group over the per-doc vocab.
    # Memory envelope: the collected array is doc-vocabulary-sized,
    # which is the SAME bound the pipeline already commits to
    # upstream — featurize_docs carries each doc's full `tokens` and
    # `wc` arrays as single Arrow values — and Spark's object-hash
    # aggregate falls back to sort-based spilling when buffers grow.
    # Interleaved A/B at bench volume (20k docs): same minimum wall
    # (19.4 vs 19.7 s cluster phase) — kept for the shorter plan
    # (one fewer stage barrier), identical outputs pinned by
    # test_tags_match_oracle and the news_clusters_lsh hash oracle.
    ranked = tf.join(df_counts, "word").groupBy("doc_id").agg(
        F.collect_list(
            F.struct(
                (-F.col("tf")).alias("ntf"), "df", "word"
            )
        ).alias("rw")
    )
    return ranked.select(
        "doc_id",
        F.expr(
            f"transform(slice(array_sort(rw), 1, {int(k)}), x -> x.word)"
        ).alias("tags"),
    )


def doc_tags_tfidf(
    tokens_df: DataFrame,
    idf_df: DataFrame,
    k: int = TAG_NUM,
    stopwords: list[str] | None = None,
    broadcast_idf: bool = True,
) -> DataFrame:
    """(doc_id, tags array): top-K by FLOAT tf-share * idf with
    avg-idf OOV fallback — the reference's actual
    KeywordExtractor.hpp:54-99 ranking, for users who bring an idf
    table (idf_df: word string, idf double; the reference ships its
    dicts as large blobs absent from the repo, which is why the
    integer ordering is the engine default).

    Weight = (tf / total_doc_tf) * coalesce(idf[word], avg(idf)) with
    stopword + 1-char drops, ties broken by word asc — expression
    order matches the pure-Python kernel (functions/textfns.top_k_tags)
    exactly, so the two rank identically bit-for-bit. idf is
    broadcast by default (vocab-sized); pass broadcast_idf=False for a
    corpus-scale idf table and let the optimizer shuffle-join it.
    """
    tf = _tf_rows(tokens_df)
    if stopwords:
        tf = tf.filter(~F.col("word").isin(*stopwords))
    totals = tf.groupBy("doc_id").agg(F.sum("tf").alias("total"))
    avg_idf = idf_df.agg(F.avg("idf").alias("avg_idf"))
    idf = F.broadcast(idf_df) if broadcast_idf else idf_df
    weighted = (
        tf.join(totals, "doc_id")
        .join(idf, "word", "left")
        .crossJoin(F.broadcast(avg_idf))
        .withColumn(
            "weight",
            F.col("tf") / F.col("total") * F.coalesce("idf", "avg_idf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("weight"), F.asc("word"))
    ranked = weighted.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )
    return ranked.groupBy("doc_id").agg(
        F.collect_list(F.struct("rn", "word")).alias("rw")
    ).select(
        "doc_id",
        F.expr("transform(array_sort(rw), x -> x.word)").alias("tags"),
    )


def minhash_df(tokens_df: DataFrame, num_perm: int = 64) -> DataFrame:
    def _sig(batches):
        from collections import Counter

        for pdf in batches:
            sigs, _ = sketch_counts(
                (Counter(t) for t in pdf["tokens"]),
                num_perm,
                simhash=False,
            )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "sig": sigs})

    return tokens_df.select("doc_id", "tokens").mapInPandas(
        _sig, schema="doc_id long, sig array<long>"
    )


def candidate_pairs(
    sig_df: DataFrame,
    bands: int = 16,
    max_bucket: int = 200,
    size_col: str | None = None,
    size_ratio: float | None = None,
) -> DataFrame:
    """LSH banding -> (a, b) candidate pairs, a < b, distinct.

    With ``size_col`` (a per-doc distinct-token count on sig_df) and
    ``size_ratio`` (the Jaccard threshold), the EXACT size prune —
    jaccard(A,B) <= min(|A|,|B|)/max(|A|,|B|), so a pair whose counts
    differ beyond the threshold ratio can never verify — runs INSIDE
    the band self-join, before the distinct shuffle. The count is one
    extra long per band row, and on boilerplate-heavy corpora where
    banding degenerates toward all-pairs it drops most candidates
    before they are ever deduplicated or joined downstream (measured
    96.8k -> 22.8k candidate rows on the 500-doc near-dup bench slice
    at threshold 0.95). The output then carries (a, b, na, nb) so
    verification needs no second size join.

    Banding is PURE JVM: each band key is ``slice(sig, ...)`` — the
    raw sub-signature array — exploded inline, so the 16x-docs band
    table never leaves whole-stage codegen (the former Python
    ``lsh_bands`` kernel paid one full Arrow round-trip of that table
    per run; at corpus scale that is 16N rows through Python for a
    pure reshape). Joining on the array itself is also hash-free:
    equal slices match exactly — no band-hash collision can merge
    distinct buckets, and no hash function needs cross-engine
    pinning. Pair generation is ONE hash-aggregated shuffle of the
    banded frame: bucket members collected per (band_id, band_key),
    a<b pairs expanded inline by JVM array lambdas (see the shape
    comment below). Buckets larger than max_bucket (boilerplate
    shingles) are dropped before expansion: a bucket of size s emits
    s^2/2 pairs, so one 10^6 bucket would emit 5*10^11 — the guard
    bounds the blow-up; near-dup docs still meet in their other
    bands.
    """
    rows_per_band = (F.size("sig") / bands).cast("int")
    size_cols = [size_col] if size_col else []
    banded = sig_df.select(
        "doc_id",
        *size_cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band_id"),
                        F.slice(
                            "sig",
                            F.lit(bi) * rows_per_band + 1,
                            rows_per_band,
                        ).alias("band_key"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", *size_cols, "bk.band_id", "bk.band_key")
    # Bucket guard + pair expansion as ONE hash aggregation (r5): the
    # former shape — a sort-based window count over the 16x-docs
    # banded frame followed by a sort-merge self-join on the same
    # (band_id, band_key) array keys — sorted that frame up to three
    # times, and the 400k-doc phase profile measured it as the
    # cluster path's scaling ceiling (band+verify 2->8-core
    # efficiency 0.69 vs 0.92 for the hash-aggregated tag phase;
    # sorts of wide array-keyed rows are memory-bus-bound, and the
    # one bus this box has is the resource added cores don't bring).
    # Here the banded frame takes a single hash-partitioned exchange
    # into an object-hash aggregate that collects each bucket's
    # members, and the a<b pairs are expanded INLINE by JVM array
    # lambdas over the doc-id-sorted member list — no sort anywhere,
    # no second pass over the banded frame. max_bucket bounds the
    # s^2/2 blow-up per bucket, but filters AFTER collect_list: a
    # boilerplate bucket is still built whole in one buffer row.
    # Identical candidate SET: same bucket membership, same
    # <=max_bucket guard, same a<b + size-ratio conditions, same
    # final dropDuplicates.
    member_fields = [F.col("doc_id").alias("d")] + (
        [F.col(size_col).alias("n")] if size_col else []
    )
    buckets = (
        banded.groupBy("band_id", "band_key")
        .agg(F.collect_list(F.struct(*member_fields)).alias("ms"))
        .filter(F.size("ms") <= max_bucket)
        .select(F.array_sort("ms").alias("ms"))
    )
    if size_col:
        pair_expr = (
            "flatten(transform(ms, (x, i) -> "
            "transform(slice(ms, i + 2, size(ms)), y -> "
            "struct(x.d as a, y.d as b, x.n as na, y.n as nb))))"
        )
    else:
        pair_expr = (
            "flatten(transform(ms, (x, i) -> "
            "transform(slice(ms, i + 2, size(ms)), y -> "
            "struct(x.d as a, y.d as b))))"
        )
    pairs = buckets.select(
        F.explode(F.expr(pair_expr)).alias("p")
    ).select("p.*")
    if size_col and size_ratio is not None:
        na, nb = F.col("na"), F.col("nb")
        pairs = pairs.filter(
            F.least(na, nb).cast("double")
            >= F.lit(size_ratio) * F.greatest(na, nb).cast("double")
        )
    # na/nb are functionally dependent on a/b, so keeping them through
    # the distinct costs nothing and saves the downstream size join
    return pairs.dropDuplicates(["a", "b"])


def verify_pairs(
    pairs: DataFrame,
    tokens_df: DataFrame,
    tags_df: DataFrame,
    sim_bound: float = SIM_BOUND,
) -> DataFrame:
    """Exact directional seed-vocab cosine for candidate pairs; keeps
    edges with sim >= bound. Seed = lower doc_id (scan order), exactly
    the pair the reference's j>i loop would inspect.

    Shuffle shape: the similarity terms only ever need the 15 seed-tag
    counts per side, so the verification runs over narrow
    (doc, word, tf) rows — (pair, tag) rows equi-join the per-doc term
    counts twice (seed side, probe side) and a map-side-combined
    groupBy(a, b) folds the exact int64 dot product and norms. The
    token arrays themselves NEVER shuffle: an earlier shape shipped
    both full token arrays per candidate pair and scanned them once
    per tag (O(tags x tokens) comparisons per pair — ~200M string
    equality checks at 14k candidates); this shape's join traffic is
    candidate-vocabulary-sized, which is what survives at 10^8
    candidates.

    The arithmetic is bit-identical to the oracle kernel
    (oracle/reference_impl.seed_similarity): every term is an exact
    small integer (per-vocab-word counts), so the dot product and both
    squared norms are exact in int64 regardless of summation order;
    the only float ops — double(d1)*double(d2), sqrt, the 1e-5 guard,
    num/denom — happen in the same order as the Python kernel, and
    IEEE-754 sqrt/divide are correctly rounded in both runtimes.
    """
    ids_in_pairs = (
        pairs.select(F.col("a").alias("doc_id"))
        .union(pairs.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    tf = _tf_rows(tokens_df.join(ids_in_pairs, "doc_id", "semi"))
    # (a, b, word): one row per (candidate pair, seed tag). Tag arrays
    # are <= TAG_NUM long and non-empty by doc_tags construction, so
    # the explode is a bounded fan-out and never drops a pair the old
    # inner-join-on-tags shape kept.
    pt = pairs.join(
        tags_df.select(F.col("doc_id").alias("a"), "tags"), "a"
    ).select("a", "b", F.explode("tags").alias("word"))
    ca = tf.select(
        F.col("doc_id").alias("a"), "word", F.col("tf").alias("ca")
    )
    cb = tf.select(
        F.col("doc_id").alias("b"), "word", F.col("tf").alias("cb")
    )
    terms = (
        pt.join(ca, ["a", "word"], "left")
        .join(cb, ["b", "word"], "left")
        .select(
            "a",
            "b",
            F.coalesce(F.col("ca"), F.lit(0)).cast("long").alias("ca"),
            F.coalesce(F.col("cb"), F.lit(0)).cast("long").alias("cb"),
        )
    )
    agg = terms.groupBy("a", "b").agg(
        F.sum(F.col("ca") * F.col("cb")).alias("num"),
        F.sum(F.col("ca") * F.col("ca")).alias("d1"),
        F.sum(F.col("cb") * F.col("cb")).alias("d2"),
    )
    denom = F.sqrt(F.col("d1").cast("double") * F.col("d2").cast("double"))
    sim = F.when(denom < F.lit(1e-5), F.lit(0.0)).otherwise(
        F.col("num").cast("double") / denom
    )
    sims = agg.select("a", "b", sim.alias("sim"))
    return sims.filter(F.col("sim") >= sim_bound)


def _cc_union_find_local(sym: DataFrame) -> DataFrame:
    """Driver union-find over an ALREADY-MATERIALIZED, size-checked
    symmetric edge list (see connected_components' gate): path-halving
    find + union-by-min-root, so each component's label is its minimum
    node id — identical to what hash-min propagation converges to."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            parent[r] = parent[parent[r]]  # path halving
            r = parent[r]
        return r

    # collect(), not toLocalIterator(): the latter schedules one job
    # per partition (64 jobs ≈ 4s of pure scheduling for a 3k-edge
    # list); the input is already size-gated by the caller, so a
    # single bounded collect is the cheap and safe fetch.
    for row in sym.collect():
        a, b = row[0], row[1]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min: smaller root wins, keeping min-label law
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra

    labels = [(n, find(n)) for n in parent]
    key_type = sym.schema[0].dataType
    schema = T.StructType(
        [
            T.StructField("doc_id", key_type, False),
            T.StructField("component", key_type, False),
        ]
    )
    return sym.sparkSession.createDataFrame(labels, schema)


def connected_components(
    edges: DataFrame,
    max_iter: int = 20,
    local_solve_max_edges: int = 200_000,
) -> DataFrame:
    """(doc_id, component) where component = min node id (any totally
    ordered key type) reachable from doc_id. Two physical strategies,
    picked by measured edge count — the same size-gated planning rule
    Spark itself applies to joins (broadcast vs shuffle):

    * **small graphs** (<= local_solve_max_edges after the symmetric
      edge list is materialized — a bounded, few-MB collect, NOT a
      data-sized one): driver union-find. Near-dup components at any
      corpus scale are usually fed in per-batch slices this size, and
      the distributed loop's per-round stage overhead (4+ Spark
      stages/round regardless of data volume) dominates its runtime
      there — measured 2.4-3.1s for 1.5k edges vs ~0.1s local.
    * **large graphs**: hash-min label propagation WITH pointer
      jumping — each round every node adopts the min label in its
      neighborhood (one groupBy shuffle), then labels take one
      path-doubling hop (component <- component[component], a
      self-join keyed on the label), collapsing label chains
      geometrically: O(log diameter) rounds instead of O(diameter).
      TWO full steps fuse into each driver barrier; the convergence
      count is the action that materializes the lazily
      localCheckpoint'ed step frame, and is tested on the SECOND
      sub-step alone (a full step that changes nothing is exactly the
      stability condition). Warns if max_iter barriers (2*max_iter
      steps) pass without convergence — with jumping that needs
      hop-diameter > ~2^(2*max_iter): pathological; raise max_iter.

    Both strategies produce identical labels (pinned by
    tests/test_clustering.py::test_cc_local_and_distributed_agree);
    set local_solve_max_edges=0 to force the distributed path."""
    import warnings

    # materialize the symmetric edge list ONCE: it is re-joined every
    # iteration, and without this the whole upstream edge derivation
    # (e.g. the MinHash -> banding -> verify pipeline feeding
    # near_dup_groups) re-executes per round — measured as the
    # dominant cost of the CC loop at bench scale
    # single-pass symmetrization: explode each edge into both
    # directions instead of union(edges, swapped) — the union's two
    # branches would each re-execute the (unpersisted) upstream edge
    # derivation (sketch -> banding -> verify), doubling its cost
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("a"), F.col("b")),
                    F.struct(
                        F.col("b").alias("a"), F.col("a").alias("b")
                    ),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .localCheckpoint()
    )
    n_sym = sym.count()
    if n_sym <= 2 * local_solve_max_edges:
        return _cc_union_find_local(sym)
    nodes = sym.select(F.col("a").alias("doc_id")).distinct()
    labels = nodes.withColumn("component", F.col("doc_id")).localCheckpoint()
    def _step(lbl: DataFrame) -> DataFrame:
        """One hash-min + pointer-jump step: (doc_id, component,
        changed). comp1 is always some node's id, so the jump looks up
        THAT node's label and adopts it if smaller (path doubling)."""
        neigh = (
            sym.join(
                lbl.select(
                    F.col("doc_id").alias("b"),
                    F.col("component").alias("nbr_comp"),
                ),
                "b",
            )
            .groupBy(F.col("a").alias("doc_id"))
            .agg(F.min("nbr_comp").alias("nbr_min"))
        )
        half = lbl.join(neigh, "doc_id", "left").select(
            "doc_id",
            F.col("component").alias("old_comp"),
            F.least(
                F.col("component"), F.coalesce("nbr_min", "component")
            ).alias("comp1"),
        )
        parents = half.select(
            F.col("doc_id").alias("jkey"), F.col("comp1").alias("pcomp")
        )
        return (
            half.join(parents, half["comp1"] == parents["jkey"], "left")
            .withColumn(
                "new_comp",
                F.least(F.col("comp1"), F.coalesce("pcomp", "comp1")),
            )
            .select(
                "doc_id",
                F.col("new_comp").alias("component"),
                (F.col("new_comp") < F.col("old_comp")).alias("changed"),
            )
        )

    for _ in range(max_iter):
        first = _step(labels).select("doc_id", "component")
        stepped = _step(first).localCheckpoint(
            eager=False  # materialized by the count below
        )
        n_changed = (
            stepped.agg(
                F.count(F.when(F.col("changed"), F.lit(1))).alias("n")
            ).collect()[0]["n"]
        )
        labels = stepped.select("doc_id", "component")
        if n_changed == 0:
            break
    else:
        warnings.warn(
            f"connected_components: not converged after {max_iter} "
            "iterations — a component with hop-diameter > max_iter kept "
            "non-minimal labels; raise max_iter",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def _greedy_scan(a_vals, b_vals, rows: list, max_similar: int) -> None:
    """Reference greedy (categorize.cpp:92-165) over a directional
    (a < b) edge list, seeds visited in ascending doc-id scan order.
    Shared by the distributed per-component pandas groups AND the
    fused driver path (greedy_membership): the handled-set
    bookkeeping never crosses a component boundary, so the function
    is indifferent to whether it sees one component's edges or a
    whole graph — which is exactly the equivalence the fusion rests
    on, so both paths MUST run this one body."""
    nbrs: dict[int, list[int]] = {}
    nodes: set[int] = set()
    for a, b in zip(a_vals, b_vals):
        nbrs.setdefault(int(a), []).append(int(b))
        nodes.add(int(a))
        nodes.add(int(b))
    handled: set[int] = set()
    for i in sorted(nodes):
        if i in handled:
            continue
        handled.add(i)
        similar = sorted(j for j in nbrs.get(i, []) if j > i)
        if len(similar) > max_similar:
            continue
        if similar:
            handled.update(similar)
            rows.append((i, i, 0))
            rows.extend((i, j, r + 1) for r, j in enumerate(similar))


def _greedy_scan_v1(a_vals, b_vals, sim_vals, rows: list) -> None:
    """v1 greedy (top-1 consume, reference_impl.greedy_clusters_v1),
    same whole-graph-or-per-component indifference as _greedy_scan."""
    nbrs: dict[int, list[tuple[float, int]]] = {}
    nodes: set[int] = set()
    for a, b, s in zip(a_vals, b_vals, sim_vals):
        nbrs.setdefault(int(a), []).append((float(s), int(b)))
        nodes.add(int(a))
        nodes.add(int(b))
    consumed: set[int] = set()
    for i in sorted(nodes):
        if i in consumed:
            continue
        consumed.add(i)
        cands = [
            (s, j) for s, j in nbrs.get(i, [])
            if j > i and j not in consumed
        ]
        if not cands:
            continue
        cands.sort(key=lambda p: (-p[0], p[1]))
        j = cands[0][1]
        consumed.add(j)
        rows.append((i, i, 0))
        rows.append((i, j, 1))


def greedy_relabel(
    edges: DataFrame,
    components: DataFrame,
    max_similar: int = MAX_SIMILAR,
    max_component_edges: int | None = None,
) -> DataFrame:
    """Per-component reference greedy (categorize.cpp:92-165).

    Returns (cluster_id = seed doc_id, member doc_id, member_rank)
    with overlap semantics preserved.

    Scale bound: each component's edge list must fit one Python worker
    (the greedy is inherently sequential in scan order, exactly like
    the reference). Edge counts are already capped indirectly by the
    LSH bucket guard, but a pathological corpus (10^8 copies of one
    boilerplate page) can still produce one giant component; pass
    max_component_edges to drop such components outright (None = off,
    full reference parity — the reference would chop the same family
    into <=6-doc clusters, so dropping is a divergence to opt into).
    """
    e = edges.join(
        components.withColumnRenamed("doc_id", "a"), "a"
    ).select("component", "a", "b")
    if max_component_edges is not None:
        w_comp = Window.partitionBy("component")
        e = (
            e.withColumn("n_edges", F.count("*").over(w_comp))
            .filter(F.col("n_edges") <= max_component_edges)
            .drop("n_edges")
        )

    def _greedy_one(sub: pd.DataFrame, rows: list) -> None:
        _greedy_scan(sub["a"], sub["b"], rows, max_similar)

    def _greedy(key, pdf: pd.DataFrame) -> pd.DataFrame:
        # One Arrow group per HASH BUCKET of components, not per
        # component: components are processed independently inside the
        # loop (identical semantics), but near-dup corpora produce
        # thousands of tiny components and one pandas-group dispatch
        # each dominated the stage (~8s of pure per-group overhead for
        # 12k edges at 20k docs). Bucketing amortizes the dispatch
        # ~30x; a pathological giant component still lands in a single
        # bucket, exactly as it landed in a single group before.
        rows: list = []
        for _, sub in pdf.groupby("component", sort=False):
            _greedy_one(sub, rows)
        return pd.DataFrame(
            rows, columns=["cluster_id", "doc_id", "member_rank"]
        )

    n_buckets = max(
        64, edges.sparkSession.sparkContext.defaultParallelism * 4
    )
    return (
        e.withColumn(
            "_bkt", F.pmod(F.xxhash64("component"), F.lit(n_buckets))
        )
        .groupBy("_bkt")
        .applyInPandas(
            _greedy, schema="cluster_id long, doc_id long, member_rank int"
        )
    )


def greedy_relabel_v1(
    edges: DataFrame,
    components: DataFrame,
) -> DataFrame:
    """v1 mode (chnsegmt top-1 matching, oracle
    reference_impl.greedy_clusters_v1): each seed takes only its best
    strictly-above-threshold match, which is consumed for good."""
    e = edges.join(
        components.withColumnRenamed("doc_id", "a"), "a"
    ).select("component", "a", "b", "sim")

    def _greedy_one(sub: pd.DataFrame, rows: list) -> None:
        _greedy_scan_v1(sub["a"], sub["b"], sub["sim"], rows)

    def _greedy(key, pdf: pd.DataFrame) -> pd.DataFrame:
        # Hash-bucketed dispatch, same amortization as greedy_relabel.
        rows: list = []
        for _, sub in pdf.groupby("component", sort=False):
            _greedy_one(sub, rows)
        return pd.DataFrame(
            rows, columns=["cluster_id", "doc_id", "member_rank"]
        )

    n_buckets = max(
        64, edges.sparkSession.sparkContext.defaultParallelism * 4
    )
    return (
        e.withColumn(
            "_bkt", F.pmod(F.xxhash64("component"), F.lit(n_buckets))
        )
        .groupBy("_bkt")
        .applyInPandas(
            _greedy, schema="cluster_id long, doc_id long, member_rank int"
        )
    )


def greedy_membership(
    edges: DataFrame,
    max_similar: int = MAX_SIMILAR,
    mode: str = "v2",
    local_max_edges: int = 50_000,
) -> DataFrame:
    """Fused CC + greedy seam (VERDICT r4 next-round #1).

    The unfused seam is ``connected_components(edges)`` ->
    ``greedy_relabel(edges, comps)``. Component labels exist there
    only to PARTITION the greedy into independent pandas groups — the
    greedy's handled/consumed bookkeeping never crosses a component
    boundary, so running the same scan-order loop over the whole
    graph yields identical clusters. When the edge list is small
    enough that CC would take the driver union-find path anyway
    (<= local_max_edges, the same size gate), the labels are
    therefore pure overhead: ONE bounded collect of the
    already-materialized edges feeds the whole-graph greedy on the
    driver and the membership comes back as a driver-created frame.
    Barrier count for the small-graph case drops from 5+ driver
    actions (sym checkpoint+count, edge collect, label
    createDataFrame, label join + bucket shuffle, applyInPandas
    stage) to 2 (count, collect). Past the gate the distributed seam
    runs unchanged — at 10^10-URL scale a per-batch near-dup slice
    takes whichever side its measured edge count demands, exactly
    like Spark's own size-gated join planning.

    The gate is TIGHTER than connected_components' local-solve gate
    (50k vs 200k edges) because the two trade different costs: CC's
    union-find output feeds a still-parallel greedy stage, while this
    path serializes the greedy itself on the driver — ~O(E) Python
    seconds that no added core removes. 50k edges keeps that serial
    share under the distributed seam's own ~2-3s fixed stage latency
    (the break-even), so the fusion is a strict latency win below the
    gate and never the scaling bottleneck above it.

    ``edges`` must be persisted or checkpointed by the caller (both
    call sites comply): the gate's count and the local collect would
    otherwise re-execute the sketch->banding->verify derivation
    twice. Local-vs-distributed equality is pinned by
    tests/test_clustering.py::test_greedy_membership_fused_agrees
    (both modes) and the news_clusters_lsh driver hash oracle.
    """
    n_edges = edges.count()
    if n_edges <= local_max_edges:
        spark = edges.sparkSession
        rows: list = []
        if mode == "v1":
            collected = edges.select("a", "b", "sim").collect()
            _greedy_scan_v1(
                (r[0] for r in collected),
                (r[1] for r in collected),
                (r[2] for r in collected),
                rows,
            )
        else:
            collected = edges.select("a", "b").collect()
            _greedy_scan(
                (r[0] for r in collected),
                (r[1] for r in collected),
                rows,
                max_similar,
            )
        schema = T.StructType(
            [
                T.StructField("cluster_id", T.LongType(), False),
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("member_rank", T.IntegerType(), False),
            ]
        )
        return spark.createDataFrame(rows, schema)
    comps = connected_components(edges.select("a", "b"))
    if mode == "v1":
        return greedy_relabel_v1(edges, comps)
    return greedy_relabel(edges, comps, max_similar)


def cluster_documents(
    spark: SparkSession,
    docs: DataFrame,
    sim_bound: float = SIM_BOUND,
    tag_num: int = TAG_NUM,
    max_similar: int = MAX_SIMILAR,
    num_perm: int = 64,
    bands: int = 16,
    mode: str = "v2",
    tag_ranking: str = "int",
    idf: DataFrame | None = None,
) -> DataFrame:
    """End-to-end: docs(doc_id, text, [source, title, day_time]) ->
    news_category-shaped clusters. mode='v2' (default): categorize.cpp
    greedy stars at >= 0.85; mode='v1': chnsegmt top-1 pairs at > 0.75
    with 10 tags (SURVEY.md J1/J2).

    tag_ranking='int' (default): (tf desc, df asc, word asc) integer
    ordering; tag_ranking='tfidf' with an `idf` table (word, idf):
    the reference's float tf-share * idf ranking
    (KeywordExtractor.hpp:54-99) via doc_tags_tfidf — a user porting
    v2 data with its idf dicts gets the reference's tag sets."""
    if mode == "v1":
        sim_bound, tag_num = 0.75, 10
    toks = featurize_docs(docs, num_perm=num_perm).persist()
    if tag_ranking == "tfidf":
        if idf is None:
            raise ValueError("tag_ranking='tfidf' requires an idf table")
        tags = doc_tags_tfidf(toks, idf, tag_num)
    elif tag_ranking == "int":
        tags = doc_tags(toks, tag_num)
    else:
        raise ValueError(f"unknown tag_ranking: {tag_ranking!r}")
    sigs = toks.select("doc_id", "sig")
    pairs = candidate_pairs(sigs, bands)
    if mode == "v1":
        # strict > threshold (findsimilarpassage.py:18-19)
        edges = verify_pairs(pairs, toks, tags, sim_bound=-1.0).filter(
            F.col("sim") > sim_bound
        ).persist()
    else:
        edges = verify_pairs(pairs, toks, tags, sim_bound).persist()
    membership = greedy_membership(edges, max_similar, mode=mode)

    meta_cols = [c for c in ("source", "title", "day_time") if c in docs.columns]
    enriched = membership.join(docs.select("doc_id", *meta_cols), "doc_id")
    agg_exprs = [
        F.sort_array(F.collect_list(F.struct("member_rank", "doc_id"))).alias(
            "m"
        )
    ]
    if "source" in meta_cols:
        agg_exprs.append(
            F.sort_array(
                F.collect_list(F.struct("member_rank", F.col("source")))
            ).alias("s")
        )
    grouped = enriched.groupBy("cluster_id").agg(*agg_exprs)
    out = grouped.select(
        "cluster_id",
        F.expr("transform(m, x -> x.doc_id)").alias("member_ids"),
        *(
            [F.expr("transform(s, x -> x.source)").alias("source_list")]
            if "source" in meta_cols
            else []
        ),
    )
    # csv export columns for byte parity with news_category
    # (categorize.cpp:153-158 comma-joins in member order)
    out = out.withColumn(
        "abstract_ids", F.concat_ws(",", F.col("member_ids"))
    )
    if "source" in meta_cols:
        out = out.withColumn(
            "source_names", F.concat_ws(",", F.col("source_list"))
        )
    if "title" in meta_cols or "day_time" in meta_cols:
        seed_meta = docs.select(
            F.col("doc_id").alias("cluster_id"),
            *(
                [F.col("title")] if "title" in meta_cols else []
            ),
            *(
                [F.col("day_time")] if "day_time" in meta_cols else []
            ),
        )
        out = out.join(seed_meta, "cluster_id", "left")
    toks.unpersist()
    return out


def cluster_documents_v1_sources(
    docs: DataFrame,
    source_order: list[str],
    day_col: str = "day_time",
    text_col: str = "text",
    sim_bound: float = 0.75,
    tag_num: int = 10,
    idf: dict[str, float] | None = None,
    stopwords: frozenset[str] | None = None,
) -> DataFrame:
    """The v1 pipeline's REAL cross-source greedy (chnsegmt/
    categorize.py:40-68 + findsimilarpassage.py:21-44): one doc pool
    per source, in `source_order`; every remaining doc of pool i seeds
    and takes at most ONE best match (strictly > sim_bound, v1
    None-on-zero cosine guard) from EACH later pool; a matched doc is
    discarded from its own pool, so it never seeds or matches again.
    Clusters are therefore 2..len(source_order) docs, one per source,
    and the last source never seeds — exactly the member shape of the
    reference's committed result/<date>/ directories.

    tags: with `idf`, the float tf*idf ranking (the reference's
    jieba extract_tags path — pass MixSegmenter.idf_proxy() when the
    real idf file is absent); without, the engine's integer
    (tf desc, doc-freq asc) ordering over the day's pool.

    Scale shape: pools are per-`day_col` and the greedy consume order
    is inherently sequential WITHIN a pool, so the pool is the
    parallel unit — groupBy(day).applyInPandas fans days out across
    executors, and each day's O(seeds x candidates) loop touches only
    tag-space vectors (tag_num-length dicts), not full documents.
    Deterministic stand-ins for the reference's unordered Py2 Set
    iteration: seeds scan doc_id ascending, similarity ties pick the
    lower doc_id."""
    from collections import Counter

    from ..functions.textfns import cosine_guarded, top_k_tags
    from ..oracle.reference_impl import doc_freq, select_tags

    order = list(source_order)

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        day = str(pdf[day_col].iloc[0])
        toks = {
            int(r.doc_id): tokenize(getattr(r, text_col) or "")
            for r in pdf.itertuples()
        }
        pools = {
            s: sorted(
                int(r.doc_id)
                for r in pdf.itertuples()
                if r.source == s
            )
            for s in order
        }
        dfc = None if idf is not None else doc_freq(list(toks.values()))
        rows = []
        for i, src in enumerate(order[:-1]):
            for nid in list(pools[src]):
                seed_toks = toks[nid]
                if idf is not None:
                    tags = top_k_tags(
                        seed_toks, idf, k=tag_num, stopwords=stopwords
                    )
                else:
                    tags = select_tags(
                        seed_toks, dfc, k=tag_num, stopwords=stopwords
                    )
                tag_set = set(tags)
                etf_counts = Counter(
                    t for t in seed_toks if t in tag_set
                )
                if not etf_counts:
                    continue  # GetTermFreqFromContent -> None
                etf = {t: float(etf_counts.get(t, 0)) for t in tags}
                members, srcs = [nid], [src]
                for later in order[i + 1 :]:
                    best: tuple[float, int] | None = None
                    for cand in pools[later]:
                        cc = Counter(
                            t for t in toks[cand] if t in tag_set
                        )
                        if not cc:
                            continue
                        ctf = {t: float(cc.get(t, 0)) for t in tags}
                        s = cosine_guarded(etf, ctf, version=1)
                        if s is not None and s > sim_bound and (
                            best is None or (-s, cand) < (-best[0], best[1])
                        ):
                            best = (s, cand)
                    if best is not None:
                        pools[later].remove(best[1])
                        members.append(best[1])
                        srcs.append(later)
                if len(members) > 1:
                    rows.append((day, nid, members, srcs))
        return pd.DataFrame(
            rows, columns=["day", "seed_id", "member_ids", "source_list"]
        )

    return docs.select(day_col, "doc_id", "source", text_col).groupBy(
        day_col
    ).applyInPandas(
        _greedy,
        schema="day string, seed_id long, member_ids array<long>, "
        "source_list array<string>",
    )
