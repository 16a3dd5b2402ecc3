"""Iterative graph operators: connected components for dedup clustering.

A near-dup pass emits PAIRS; a pipeline needs CLUSTERS — the
transitive closure — so one representative per component survives.
That closure is inherently iterative, which is exactly where a
DataFrame engine needs a driver-side loop: each round is a
join + min-aggregate (all Catalyst-planned), and ``localCheckpoint``
truncates the growing lineage so round N's plan doesn't contain
rounds 1..N-1 (the classic iterative-Spark failure mode).

Two algorithms:

- ``connected_components`` — min-label propagation. Every node starts
  labeled with itself; each round a node takes the minimum label among
  itself and its neighbors; fixpoint when no label changes. Rounds
  needed = the largest component's diameter: fine for dedup clusters
  (dense near-dup blobs), O(n) rounds on adversarial chains.
- ``connected_components_star`` — alternating large-star/small-star
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC'14): O(log n) rounds on ANY graph shape, same per-round
  join+min-aggregate shape. This is the default the pipeline uses.

At 100 TB: labels and edges are both hash-partitioned on the join
key every round; persisting `labels` between rounds keeps the small
side resident, and the convergence check is a cheap count over the
changed-label join, not a collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import small_input


def symmetrize(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """Undirected edge list from (a, b) pairs."""
    return pairs.select(F.col(a).alias("src"), F.col(b).alias("dst")).union(
        pairs.select(F.col(b).alias("src"), F.col(a).alias("dst"))
    )


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
) -> DataFrame:
    """Min-label propagation to fixpoint over a symmetric edge list
    (columns ``src``, ``dst``). Returns (n, component) for every node
    that appears in an edge; isolated nodes are the caller's join-back.

    Deterministic: the component id is the minimum node id reachable.
    """
    edges = edges.localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("n"))
        .union(edges.select(F.col("dst").alias("n")))
        .distinct()
    )
    labels = nodes.withColumn("l", F.col("n")).localCheckpoint(eager=True)
    # labels only ever DECREASE (min-propagation), so the label sum is
    # a strictly-decreasing potential function: sum unchanged ⟺ fixpoint.
    # That makes the per-round convergence check one aggregate over the
    # (small) label table instead of a changed-rows join. DECIMAL(38)
    # accumulator: 1e9 nodes x 64-bit ids overflows a long sum.
    prev_sum = labels.agg(F.sum(F.col("l").cast("decimal(38,0)"))).collect()[0][0]

    for _ in range(max_iter):
        neigh = edges.join(
            labels, edges["src"] == labels["n"], "inner"
        ).select(F.col("dst").alias("n"), F.col("l"))
        labels = (
            labels.select("n", "l")
            .union(neigh)
            .groupBy("n")
            .agg(F.min("l").alias("l"))
            .localCheckpoint(eager=True)
        )
        cur_sum = labels.agg(F.sum(F.col("l").cast("decimal(38,0)"))).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select(F.col("n"), F.col("l").alias("component"))


def _large_star(sym: DataFrame) -> DataFrame:
    """Large-star round: for each node u with m = min(Γ(u) ∪ {u}),
    connect every STRICTLY LARGER neighbor v > u directly to m.
    Expects a symmetric edge list; output is a plain (src, dst) set."""
    mins = sym.groupBy("src").agg(F.min("dst").alias("mn"))
    m = F.least(F.col("src"), F.col("mn"))
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), m.alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame, pre_canonical: bool = False) -> DataFrame:
    """Small-star round: direct each edge high→low, then for each node
    u connect every smaller neighbor (and u itself) to the minimum of
    its smaller neighborhood. Output edges all point high→low.

    ``pre_canonical``: the input is already distinct high→low pairs
    (true for large-star output, whose emitted (v, m) always has
    m < v) — skips one canonicalizing shuffle per round."""
    if pre_canonical:
        e = edges
    else:
        e = (
            edges.filter(F.col("src") != F.col("dst"))
            .select(
                F.greatest("src", "dst").alias("src"),
                F.least("src", "dst").alias("dst"),
            )
            .distinct()
        )
    mins = e.groupBy("src").agg(F.min("dst").alias("mn"))
    out = (
        e.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
        .union(mins.select("src", F.col("mn").alias("dst")))
    )
    return out.filter(F.col("src") != F.col("dst")).distinct()


def _star_rounds(edges: DataFrame, max_iter: int) -> tuple[DataFrame, int]:
    """Run alternating large/small-star to fixpoint; returns the final
    star edge set (node → component min, high→low) and rounds used."""
    cur = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Cheap potential first (edge count + DECIMAL sums of both endpoint
    # columns — dst assignments only ever decrease); the exact
    # exceptAll set-compare runs ONLY when the potential plateaus, so
    # a hash-free, collision-free fixpoint test costs one extra join
    # total, not one per round.
    def _potential(e: DataFrame):
        row = e.agg(
            F.count(F.lit(1)),
            F.sum(F.col("src").cast("decimal(38,0)")),
            F.sum(F.col("dst").cast("decimal(38,0)")),
        ).collect()[0]
        return tuple(row)

    prev = _potential(cur)
    rounds = 0
    for _ in range(max_iter):
        sym = cur.union(
            cur.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        nxt = _small_star(
            _large_star(sym), pre_canonical=True
        ).localCheckpoint(eager=True)
        rounds += 1
        p = _potential(nxt)
        if p == prev:
            # potential equality already pins the edge COUNT, so a
            # one-sided multiset difference proves set equality
            if nxt.exceptAll(cur).isEmpty():
                cur = nxt
                break
        prev = p
        cur = nxt
    return cur, rounds


# Below this many edges the whole graph is at most a few MB and the
# distributed star rounds are pure scheduling overhead (measured: 3.5s
# of jobs for a 256-edge fixpoint at local[32]); a driver union-find
# answers in milliseconds. 100k edges ≈ 1.6 MB collected — far under
# any broadcast-size comfort zone, and union-find is O(E α(N)).
SMALL_GRAPH_EDGES = 100_000


def _union_find_labels(edges: DataFrame) -> DataFrame:
    """Driver-side union-find for SMALL edge sets (bounded by the
    caller): returns the same (n, component=min reachable id) contract
    as the distributed path."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in edges.select("src", "dst").collect():
        a, b = row[0], row[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict = {}
    for node in parent:
        r = find(node)
        m = comp_min.get(r)
        if m is None or node < m:
            comp_min[r] = node
    from pyspark.sql.types import StructField, StructType

    t = edges.schema["src"].dataType
    schema = StructType(
        [StructField("n", t), StructField("component", t)]
    )
    rows = [(node, comp_min[find(node)]) for node in parent]
    # Broadcast hint: this path only runs for edge sets at or below
    # SMALL_GRAPH_EDGES (≤ ~200k label rows, a few MB), and the label
    # table's provenance (Python createDataFrame → UnknownPartitioning,
    # no stats) otherwise forces the caller's docs ⋈ labels join into a
    # SortMergeJoin that shuffles BOTH sides — including the full corpus
    # side (guide §3.1: hint when you know a side is small and the
    # planner cannot). The distributed star path returns un-hinted.
    return F.broadcast(edges.sparkSession.createDataFrame(rows, schema))


def hindex_coreness_small(
    edge_rows: list, node_ids: list, iters: int
) -> dict:
    """Driver-side fixed-round h-index coreness for SMALL graphs
    (caller gates on counted nodes+edges — the `_union_find_labels`
    precedent). Exactly the distributed loop's arithmetic: start every
    node at its degree over the directed-symmetrized edge list, each
    round replace the value with max(least(rank, neighbor_value)) over
    neighbors sorted descending; nodes with no neighbors coalesce to
    0. All integer, so bit-identical to the in-plan rounds (pinned by
    tests/test_round13_fixes2.py)."""
    adj: dict = {}
    for a, b in edge_rows:
        adj.setdefault(a, []).append(b)
    c = {v: len(adj.get(v, ())) for v in node_ids}
    for _ in range(iters):
        nxt = {}
        for v in node_ids:
            nbrs = adj.get(v)
            if not nbrs:
                nxt[v] = 0
                continue
            h = 0
            for r, x in enumerate(
                sorted((c[u] for u in nbrs), reverse=True), 1
            ):
                m = r if r < x else x
                if m > h:
                    h = m
            nxt[v] = h
        c = nxt
    return c


def lpa_labels_small(edge_rows: list, node_ids: list, iters: int) -> dict:
    """Driver-side fixed-round deterministic label propagation for
    SMALL graphs: per round each node takes the most frequent label
    among its neighbors, ties to the SMALLEST label (the
    min(struct(-count, lbl)) rule of the distributed loop); isolated
    nodes keep their label. Integer counts over integer labels —
    bit-identical to the in-plan rounds (pinned by
    tests/test_round13_fixes2.py)."""
    adj: dict = {}
    for a, b in edge_rows:
        adj.setdefault(a, []).append(b)
    lbl = {v: v for v in node_ids}
    for _ in range(iters):
        nxt = {}
        for v in node_ids:
            nbrs = adj.get(v)
            if not nbrs:
                nxt[v] = lbl[v]
                continue
            cnt: dict = {}
            for u in nbrs:
                lu = lbl[u]
                cnt[lu] = cnt.get(lu, 0) + 1
            best_l = None
            best_c = 0
            for lv, cc in cnt.items():
                if cc > best_c or (cc == best_c and lv < best_l):
                    best_l, best_c = lv, cc
            nxt[v] = best_l
        lbl = nxt
    return lbl


def connected_components_star(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """Large-star/small-star connected components over a (src, dst)
    edge list (symmetry not required). Returns (n, component) for
    every node appearing in an edge, component = min reachable id —
    identical output contract to :func:`connected_components`, but
    O(log n) rounds on any graph shape (chains included), so this is
    the 100 TB default.

    Adaptive small-graph path: the edge count is known for free after
    the checkpoint; at or below SMALL_GRAPH_EDGES the closure runs
    as a driver union-find instead of distributed rounds. Candidate
    pairs AFTER bucketed near-dup filtering are often tiny even when
    the corpus is 100 TB — the filtering did the scale work; pay
    milliseconds, not per-round job latency, for the closure. Above
    the bound the distributed star rounds run unchanged.

    Reference capability: BatchUpdate.py has no graph op — this backs
    the dedup_cluster EXT query (pairs → transitive closure).
    """
    edges = edges.localCheckpoint(eager=True)
    if small_input(edges.count(), SMALL_GRAPH_EDGES):
        return _union_find_labels(edges)
    star, _ = _star_rounds(edges, max_iter)
    # At fixpoint every edge points node → its component's minimum id,
    # and roots have no outgoing high→low edge (they ARE the minimum).
    nodes = (
        edges.select(F.col("src").alias("n"))
        .union(edges.select(F.col("dst").alias("n")))
        .distinct()
    )
    lab = star.groupBy("src").agg(F.min("dst").alias("component"))
    return nodes.join(lab, nodes["n"] == lab["src"], "left").select(
        "n", F.coalesce("component", "n").alias("component")
    )


def cluster_assignments(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
) -> DataFrame:
    """Every row of ``df`` → (id, cluster_id, is_rep): transitive
    closure over ``pairs`` with singletons as their own cluster and
    the minimum id as the deterministic representative."""
    # connected_components_star checkpoints its edge input eagerly, so
    # the (expensive — shingle-join) pair generator runs once
    cc = connected_components_star(
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    )
    out = df.select(F.col(id_col)).join(
        cc, df[id_col] == cc["n"], "left"
    )
    cluster = F.coalesce(F.col("component"), F.col(id_col))
    return out.select(
        F.col(id_col),
        cluster.alias("cluster_id"),
        (F.col(id_col) == cluster).cast("int").alias("is_rep"),
    )


# Wedge-work bound for the driver-side triangle path: sum over sources
# of C(out-degree, 2), computed from the COLLECTED edges before any
# Python counting — a pure function of the data, never a core-count
# constant. Above it the distributed joins run (the checkpointed edge
# list is reused, only the collect was extra).
TRIANGLE_DRIVER_MAX_WEDGES = 2_000_000


def triangle_counts_small(edge_rows: list) -> dict | None:
    """Driver-side degree-oriented wedge counting for SMALL edge lists
    — exactly the distributed plan's arithmetic (same packed
    (deg·1e12 + id) orientation key, same strict dstk wedge order,
    same closing-edge multiplicity semantics for parallel edges), so
    the result is bit-identical to the in-plan joins (pinned in
    tests/test_round14_fixes.py). Returns {node: n_triangles} for
    nodes in at least one triangle, or None when the oriented wedge
    count exceeds TRIANGLE_DRIVER_MAX_WEDGES (the caller then runs the
    distributed joins)."""
    from collections import Counter, defaultdict

    deg: dict = defaultdict(int)
    for x, y in edge_rows:
        deg[x] += 1
        deg[y] += 1
    key = {v: d * 1_000_000_000_000 + v for v, d in deg.items()}
    out: dict = defaultdict(list)  # src -> [(dstk, dst)]
    ocnt: Counter = Counter()  # oriented edge multiplicity
    for x, y in edge_rows:
        s, d = (x, y) if key[x] < key[y] else (y, x)
        out[s].append((key[d], d))
        ocnt[(s, d)] += 1
    wedges = sum(len(lst) * (len(lst) - 1) // 2 for lst in out.values())
    if wedges > TRIANGLE_DRIVER_MAX_WEDGES:
        return None
    tri: dict = defaultdict(int)
    for u, lst in out.items():
        lst.sort()
        for i in range(len(lst)):
            ki, vi = lst[i]
            for j in range(i + 1, len(lst)):
                kj, vj = lst[j]
                if ki == kj:  # parallel edge: strict dstk order excludes
                    continue
                c = ocnt.get((vi, vj), 0)
                if c:
                    tri[u] += c
                    tri[vi] += c
                    tri[vj] += c
    return dict(tri)


def triangle_counts(
    pairs: DataFrame, a: str = "doc_a", b: str = "doc_b"
) -> DataFrame:
    """Per-node triangle counts — the clique-density signal a near-dup
    graph analysis runs (template spam shows up as dense triangle
    clusters; a path of pairwise matches does not).

    Algorithm: degree-oriented wedge counting (Suri & Vassilvitskii,
    WWW'11 — "the curse of the last reducer"): every undirected edge
    is oriented from its LOWER (degree, id) endpoint to the higher,
    wedges are pairs of out-edges from one source, and a wedge is a
    triangle iff its closing edge exists in the SAME orientation. Each
    triangle is counted exactly once, and — the scale point — wedge
    fan-out is bounded by out-degree, which degree-orientation caps at
    O(sqrt(m)) even for hub nodes, instead of the O(d^2) a naive
    min-id orientation pays on high-degree vertices. The (degree, id)
    order is packed into one bigint (``deg * 1e12 + id``) so both
    engines compare a single key.

    Shape: one degree aggregate, two broadcast-or-shuffle equi-joins
    (edges ⋈ degrees), one self-join on the wedge source, one closing
    equi-join, one final count — all key-partitioned, no driver state.

    The edge list is eagerly localCheckpoint-ed first (the
    cluster_assignments precedent): ``e0`` feeds the degree union
    (twice) plus the oriented-edge join, so an expensive pair
    GENERATOR upstream would otherwise be replicated three times in
    the plan — at sf0.1 the un-truncated graph_triangles plan was 452
    physical operators and re-ran the shingle-join generator per
    branch (guide §3.3: materialize to truncate huge plans). Edges
    are pair-bounded (the near-dup filter did the scale work), so the
    checkpoint is small even when the corpus is not.
    """
    e0 = pairs.select(F.col(a).alias("x"), F.col(b).alias("y")).localCheckpoint(
        eager=True
    )
    # Adaptive small-graph path (r14 — the connected_components_star /
    # kcore/labelprop precedent): pairs AFTER near-dup filtering are
    # often tiny even on a huge corpus, and the distributed machinery
    # (degree agg + 2 orientation joins + pin + wedge self-join +
    # closing join) measured 1.6 s of pure per-stage fixed cost over a
    # 256-edge fixture. At or below SMALL_GRAPH_EDGES (count is a
    # cached scan over the eager checkpoint) collect the edges and run
    # the identical integer counting driver-side, which gives up (None)
    # above TRIANGLE_DRIVER_MAX_WEDGES; above either bound — or under
    # SPARK_GRAFT_FORCE_DISTRIBUTED=1 — the joins below run unchanged
    # (the 100 TB path).
    if small_input(e0.count(), SMALL_GRAPH_EDGES):
        tri = triangle_counts_small([(r[0], r[1]) for r in e0.collect()])
        if tri is not None:
            t = pairs.schema[a].dataType
            from pyspark.sql.types import LongType, StructField, StructType

            schema = StructType(
                [
                    StructField("doc_id", t),
                    StructField("n_triangles", LongType()),
                ]
            )
            rows = sorted(tri.items())
            return pairs.sparkSession.createDataFrame(rows, schema)
    deg = (
        e0.select(F.col("x").alias("n"))
        .unionAll(e0.select(F.col("y").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
        .select("n", (F.col("d") * F.lit(1_000_000_000_000) + F.col("n")).alias("k"))
    )
    from ..cache import pin

    # the oriented edge list feeds THREE plan branches (both wedge
    # sides + the closing join) — pin it so the pair generator runs
    # once, not three times (scoped release per cache.py)
    o = pin(
        e0.join(deg.withColumnsRenamed({"n": "x", "k": "kx"}), "x")
        .join(deg.withColumnsRenamed({"n": "y", "k": "ky"}), "y")
        .select(
            F.when(F.col("kx") < F.col("ky"), F.col("x"))
            .otherwise(F.col("y"))
            .alias("src"),
            F.when(F.col("kx") < F.col("ky"), F.col("y"))
            .otherwise(F.col("x"))
            .alias("dst"),
            F.greatest("kx", "ky").alias("dstk"),
        )
    )
    w = (
        o.alias("o1")
        .join(o.alias("o2"), F.col("o1.src") == F.col("o2.src"))
        .filter(F.col("o1.dstk") < F.col("o2.dstk"))
        .select(
            F.col("o1.src").alias("u"),
            F.col("o1.dst").alias("v1"),
            F.col("o2.dst").alias("v2"),
        )
    )
    tri = w.join(
        o.select(F.col("src").alias("v1"), F.col("dst").alias("v2")),
        ["v1", "v2"],
    )
    nodes = (
        tri.select(F.col("u").alias("doc_id"))
        .unionAll(tri.select(F.col("v1").alias("doc_id")))
        .unionAll(tri.select(F.col("v2").alias("doc_id")))
    )
    return nodes.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )
