"""Connected components: min-label propagation over near-dup pair sets."""

from repurpose_spark.operators.graph import connected_components


def _comps(spark, edges, verts=None):
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    vdf = (
        spark.createDataFrame([(v,) for v in verts], "doc_id long")
        if verts is not None
        else None
    )
    out = connected_components(pairs, vertices=vdf)
    return {r["doc_id"]: r["component"] for r in out.collect()}


def test_components_basic(spark):
    got = _comps(spark, [(1, 2), (2, 3), (5, 6)], verts=range(1, 9))
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7, 8: 8}


def test_components_chain_needs_iterations(spark):
    # a length-5 chain: labels need several propagation rounds
    got = _comps(spark, [(14, 13), (13, 12), (12, 11), (11, 10)])
    assert got == {i: 10 for i in range(10, 15)}


def test_components_no_edges(spark):
    got = _comps(spark, [], verts=[1, 2, 3])
    assert got == {1: 1, 2: 2, 3: 3}


def test_components_merges_two_clusters_via_bridge(spark):
    got = _comps(spark, [(1, 2), (3, 4), (2, 3)])
    assert set(got.values()) == {1}


def test_components_null_endpoint_paths_agree(spark):
    """A null endpoint is no vertex: the driver union-find and the
    distributed loop (forced by small_graph_max_edges=0) label the same
    vertex set, and the edge's non-null end stays a singleton."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, None), (None, 6), (7, 8)],
        "doc_a long, doc_b long",
    )

    def comps(**kw):
        out = connected_components(pairs, **kw).collect()
        return sorted((r["doc_id"], r["component"]) for r in out)

    expect = [(1, 1), (2, 1), (3, 1), (5, 5), (6, 6), (7, 7), (8, 7)]
    assert comps() == expect
    assert comps(small_graph_max_edges=0) == expect


def test_components_match_union_find_property(spark):
    """Randomized cross-check: Spark min-label propagation equals a
    pure-python union-find on the same edge list (12 seeded graphs)."""
    import random

    def union_find(n_verts, edges):
        parent = list(range(n_verts))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # canonical label = min vertex of the component
        comp = {}
        for v in range(n_verts):
            r = find(v)
            comp.setdefault(r, []).append(v)
        return {v: min(vs) for r, vs in comp.items() for v in vs}

    rng = random.Random(20260816)
    for trial in range(12):
        n = rng.randint(2, 16)
        m = rng.randint(0, 2 * n)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        expect = union_find(n, edges)
        got = _comps(spark, edges or [], verts=range(n))
        assert got == expect, f"trial {trial}: n={n} edges={edges}"


class TestCanonicalPerComponent:
    def test_keep_best_quality_tie_min_id(self, spark):
        from repurpose_spark.operators.graph import canonical_per_component

        rows = [
            (1, 10, 0.5), (2, 10, 0.9), (3, 10, 0.9),   # tie at 0.9 -> id 2
            (4, 40, 0.1),                                  # singleton
        ]
        df = spark.createDataFrame(rows, "doc_id long, component long, q double")
        got = {r["component"]: (r["keep_doc"], r["q"], r["n_members"])
               for r in canonical_per_component(df, "q").collect()}
        assert got == {10: (2, 0.9, 3), 40: (4, 0.1, 1)}

    def test_removal_tally(self, spark):
        from repurpose_spark.operators.graph import canonical_per_component

        rows = [(i, i % 3, float(i)) for i in range(12)]
        df = spark.createDataFrame(rows, "doc_id long, component long, q double")
        out = canonical_per_component(df, "q").collect()
        assert sum(r["n_members"] - 1 for r in out) == 12 - 3
        # highest q per component wins
        assert sorted(r["keep_doc"] for r in out) == [9, 10, 11]
