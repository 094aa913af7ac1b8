"""The shared Adamic-Adar rules: brute-force scores for the bipartite
scorer, the MAX_DEGREE hub cap in all three scorers, and a score that does
not depend on the order or partitioning of its terms."""

import math
import random

from esgkg.stages import complete


def _brute_aa(members, cap):
    """{(a, b): (common, Σ 1/ln deg z)} over (n, z) memberships, a < b,
    z kept while 2 ≤ deg z ≤ cap."""
    by_z: dict[int, set[int]] = {}
    for n, z in members:
        by_z.setdefault(z, set()).add(n)
    out: dict[tuple[int, int], tuple[int, float]] = {}
    for z in sorted(by_z):
        ns = sorted(by_z[z])
        if not 2 <= len(ns) <= cap:
            continue
        for i, a in enumerate(ns):
            for b in ns[i + 1:]:
                c, s = out.get((a, b), (0, 0.0))
                out[(a, b)] = (c + 1, s + 1.0 / math.log(len(ns)))
    return out


def test_bipartite_adamic_adar_matches_bruteforce(spark):
    rng = random.Random(7)
    buys = sorted({(rng.randrange(40), 100 + rng.randrange(15))
                   for _ in range(160)})
    df = spark.createDataFrame(buys + buys[:20], "cust long, part long")
    got = {
        (r.a, r.b): (r.common, r.aa_score)
        for r in complete.bipartite_adamic_adar(df, "cust", "part").collect()
    }
    want = {
        k: v for k, v in _brute_aa(buys, complete.MAX_DEGREE).items()
        if v[0] >= complete.MIN_SHARED
    }
    assert set(got) == set(want) and want
    for k, (common, score) in want.items():
        assert got[k][0] == common, k
        assert abs(got[k][1] - score) < 1e-12, k
    # MIN_SHARED really filters: pairs sharing one part exist but are absent
    assert any(c < complete.MIN_SHARED
               for c, _ in _brute_aa(buys, complete.MAX_DEGREE).values())


def test_hub_cap_drops_the_hub_in_every_scorer(spark, monkeypatch):
    """Hub 10 (degree 4) is over a cap of 3; vertex 11 (degree 3) and
    vertex 12 (degree 2) are not. Every pair that shares only the hub
    disappears, and pair (1, 2) keeps only its non-hub neighbors."""
    monkeypatch.setattr(complete, "MAX_DEGREE", 3)
    raw = [(1, 10), (2, 10), (3, 10), (4, 10), (1, 11), (2, 11), (5, 11),
           (1, 12), (2, 12)]
    edges = spark.createDataFrame(
        [(a, b, "related_to", 1.0, "u") for a, b in raw],
        "src long, dst long, relation string, confidence double, url string",
    )
    want_12 = 1.0 / math.log(3) + 1.0 / math.log(2)

    got = {(r.src, r.dst): (r.common_neighbors, r.aa_score)
           for r in complete.adamic_adar(edges, top_k=100).collect()}
    assert got[(1, 2)][0] == 2 and abs(got[(1, 2)][1] - want_12) < 1e-12
    for pair in [(1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]:
        assert pair not in got, pair

    links = complete.predict_links(edges, source_id=1, top_k=4)
    assert links[0][0] == 2
    assert abs(links[0][1] - (1.0 - math.exp(-want_12))) < 1e-12
    assert links[1][0] == 5 and links[1][1] > 0.0
    # 3 and 4 share only the hub with 1: zero-probability fillers
    assert {n: p for n, p in links[2:]} == {3: 0.0, 4: 0.0}

    bip = {(r.a, r.b): (r.common, r.aa_score)
           for r in complete.bipartite_adamic_adar(
               edges, "src", "dst").collect()}
    assert set(bip) == {(1, 2)}
    assert bip[(1, 2)][0] == 2 and abs(bip[(1, 2)][1] - want_12) < 1e-12


def test_score_sum_is_independent_of_order_and_partitioning(spark):
    """The same (src, dst, deg) rows give bit-equal aa_score whether they
    arrive sorted in one partition or shuffled across seven."""
    rng = random.Random(3)
    rows = [(s, d, rng.randrange(2, 1001))
            for s in range(12) for d in range(12, 24) for _ in range(40)]
    schema = "src long, dst long, deg long"
    ordered = spark.createDataFrame(
        spark.sparkContext.parallelize(sorted(rows, key=lambda r: r[2]), 1),
        schema,
    )
    shuffled = list(rows)
    rng.shuffle(shuffled)
    spread = spark.createDataFrame(
        spark.sparkContext.parallelize(shuffled, 7), schema
    )

    def scores(df):
        return {(r.src, r.dst): (r.common, r.aa_score)
                for r in complete._score(df, ["src", "dst"]).collect()}

    a, b = scores(ordered), scores(spread)
    assert len(a) == 144 and a == b
    # and the exact sum agrees with the float sum to rounding
    brute: dict[tuple[int, int], float] = {}
    for s, d, deg in rows:
        brute[(s, d)] = brute.get((s, d), 0.0) + 1.0 / math.log(deg)
    assert all(abs(a[k][1] - v) < 1e-12 for k, v in brute.items())
