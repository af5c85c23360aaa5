#!/usr/bin/env python3
"""Randomized differential fuzz: mutate the sf0.001 corpus with seeded
dirty-data operators (row drops, duplicates, NULL injection, junk text,
degenerate vectors), then Verify + check.py the FULL inventory against
the DuckDB oracles on the mutated dir. Any crash or hash mismatch is an
engine/oracle semantic divergence on data the clean testdata can never
exercise — the q85 ANSI-division and quantized-overflow classes were
both found this way (BASELINE.md round-10 session-4).

Usage: tools/fuzz.py <seed> [destDir]   (then run Verify+check on it)
"""
import shutil
import sys

import duckdb

SRC = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main(seed, dst):
    con = duckdb.connect()
    con.execute(f"SELECT setseed({(seed % 1000) / 1000.0})")
    for t in TABLES:
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM '{SRC}/{t}.parquet'")

    # documents: drop 5%, duplicate 3% under fresh ids (REAL dup
    # clusters for the dedup family), NULL lang/source on disjoint 2%
    # slices, punctuation junk appended to 3%
    con.execute("DELETE FROM documents WHERE random() < 0.05")
    con.execute("""INSERT INTO documents
        SELECT doc_id + 8000000, text, lang, source, n_chars
        FROM documents WHERE random() < 0.03""")
    con.execute("UPDATE documents SET lang = NULL WHERE random() < 0.02")
    con.execute("UPDATE documents SET source = NULL WHERE random() < 0.02")
    con.execute("""UPDATE documents
        SET text = text || ' !!#$%', n_chars = n_chars + 6
        WHERE random() < 0.03""")

    # events: drop 5% (sequence gaps are semantics, not noise),
    # NULL props/value/user on small disjoint slices
    con.execute("DELETE FROM events WHERE random() < 0.05")
    con.execute("UPDATE events SET props = NULL WHERE random() < 0.03")
    con.execute("UPDATE events SET value = NULL WHERE random() < 0.02")
    con.execute("UPDATE events SET user_id = NULL WHERE random() < 0.01")

    # embeddings: the degenerate-vector family (VectorEdgeSpec's
    # classes) on fresh ids + a duplicated real vector
    con.execute("""INSERT INTO embeddings
        SELECT 8000001, list_transform(embedding, x -> CAST(0.0 AS FLOAT)), 3
        FROM embeddings LIMIT 1""")
    con.execute("""INSERT INTO embeddings
        SELECT 8000002, list_transform(embedding, x -> CAST(0.00005 AS FLOAT)), 2
        FROM embeddings LIMIT 1""")
    con.execute("""INSERT INTO embeddings
        SELECT 8000003, list_transform(embedding, x -> CAST(123456.0 AS FLOAT)), 1
        FROM embeddings LIMIT 1""")
    con.execute("""INSERT INTO embeddings
        SELECT 8000004, embedding, label FROM embeddings
        WHERE random() < 0.5 LIMIT 1""")
    con.execute("""INSERT INTO embeddings
        SELECT 8000005, list_transform(embedding,
            x -> CASE WHEN random() < 0.1 THEN 'NaN'::FLOAT ELSE x END), 2
        FROM embeddings LIMIT 1""")

    # seeds >= 18 (round-13 kernel campaign, VERDICT r12 task 5):
    # target the topk_assign_bc/topk_route_bc assignment kernels.
    if seed >= 18:
        # engineered cosine TIES at the argmax: make the two LOWEST
        # vec_ids exact-duplicate vectors, so the two lowest-rank Lloyd
        # seeds are identical centroids -> every vector's cosine ties
        # across them and the cid tie-break must decide (both engines
        # agreeing); the losing cluster goes EMPTY, exercising
        # cluster-death in the recompute and empty-group drop in the
        # coarse router
        con.execute("""UPDATE embeddings SET embedding =
            (SELECT embedding FROM embeddings ORDER BY vec_id LIMIT 1)
            WHERE vec_id = (SELECT vec_id FROM embeddings
                            ORDER BY vec_id OFFSET 1 LIMIT 1)""")
        # a 5-copy duplicate-vector cluster under fresh high ids:
        # multiway assignment ties + identical minhash rows
        con.execute("""INSERT INTO embeddings
            SELECT 900000001 + r.range, e.embedding, e.label
            FROM (SELECT embedding, label FROM embeddings
                  WHERE len(list_filter(embedding, x -> x <> 0)) > 0
                  ORDER BY vec_id LIMIT 1) e, range(5) r""")
        # sparse/striped id space — the class that broke `vec_id < k`
        # seeding in round 12 (GenScale stripes replicas by 10M); the
        # multiplier keeps ids unique and rank order intact
        con.execute("UPDATE embeddings SET vec_id = vec_id * 1000003")

    # seeds >= 22 (round-14 verdict task 5): Zipfian cluster-size HEAD
    # for the SemDeDup family — one duplicate mega-cluster holding
    # ~30% of the final corpus under ids BELOW the whole natural id
    # space (negative), so (a) the q112 pair join faces its worst
    # single cluster key, (b) the mega base is the provable global
    # keeper, and (c) the rank-based Lloyd seeding draws MANY identical
    # seed centroids (mass cluster death + ties through the recompute).
    # The >=100k-vector metrics twin of this corpus is
    # graft.scale.SemDedupSkewBench; this seed carries the ORACLE
    # exactness of the same shape.
    if seed >= 22:
        n_emb = con.execute("SELECT count(*) FROM embeddings").fetchone()[0]
        con.execute(f"""INSERT INTO embeddings
            SELECT -(1 + r.range), e.embedding, e.label
            FROM (SELECT embedding, label FROM embeddings
                  WHERE len(list_filter(embedding, x -> x <> 0)) > 0
                  ORDER BY vec_id LIMIT 1) e,
                 range({int(0.45 * n_emb)}) r""")

    # seeds >= 24 (round-15 verdict task 5): COMBINED axes.
    # (a) transitive-chain arcs for q112/q113 — three vectors per arc
    # stepping 50 degrees in a 2-plane: adjacent cosines ~0.643 >= 0.42,
    # skip-one ~-0.17 < 0.42, so whenever an arc lands in one cluster
    # the middle vector is BOTH dropped and a witness (the chain q113
    # resolves). Arc ids are small POSITIVES (10..32) in the gap above
    # the seed-22 mega block's negatives and below the striped id
    # space, keeping chain direction (keeper = lower id) while never
    # colliding with Lloyd seeds — see the in-block comment below.
    # Dims rotate per arc so arcs don't collide.
    # (b) a giant MinHash bucket: a >30%-of-corpus block of IDENTICAL
    # documents (every band signature equal -> one (band, sig) bucket
    # holding the whole block). Under the production GiantClusterCap
    # = 4096 these corpora stay sub-cap; the sweep reruns with
    # SPARK_GRAFT_SEED_GIANTCAP (and SPARK_GRAFT_SEED_TWOLEVEL) so the
    # grid-sliced pair joins and two-level routing run ON these dirty
    # shapes oracle-exact (slicing is value-identical: no oracle
    # change).
    if seed >= 24:
        import math
        # Arc geometry that survives the seed-22 dynamics: the 8
        # identical mega seeds collapse clustering to ONE surviving
        # cluster, so every lower-id member is a potential witness for
        # every arc step — the arc plane must be ORTHOGONAL to the
        # mega vector (Gram-Schmidt against it, driver-side) or the
        # mega block witnesses the whole arc and the chain degenerates
        # to single hops (observed on the first seed-24 draft, where
        # negative arc ids additionally made the arcs the Lloyd seeds
        # themselves). Ids sit in the small-positive gap — above the
        # mega block's negatives, below the 1000003-striped id space —
        # so arcs are never seeds and never have non-arc witnesses.
        m = con.execute("""SELECT embedding FROM embeddings
                           WHERE vec_id = -1""").fetchone()[0]
        mm = sum(x * x for x in m)
        for arc, (d0, d1) in enumerate([(50, 51), (54, 55), (58, 59)]):
            # u = e_d0 - proj_m, w = e_d1 - proj_m - proj_u, normalized
            u = [-m[d0] * x / mm for x in m]
            u[d0] += 1.0
            un = math.sqrt(sum(x * x for x in u))
            u = [x / un for x in u]
            w = [-m[d1] * x / mm for x in m]
            w[d1] += 1.0
            uw = sum(a * b for a, b in zip(u, w))
            w = [b - uw * a for a, b in zip(u, w)]
            wn = math.sqrt(sum(x * x for x in w))
            w = [x / wn for x in w]
            for step in range(3):
                rad = math.radians((step - 1) * 50.0)
                vec = [round(math.cos(rad) * a + math.sin(rad) * b, 3)
                       for a, b in zip(u, w)]
                lits = ", ".join(f"CAST({x} AS FLOAT)" for x in vec)
                # ids ascend with the angle step (keeper = lower id),
                # so adjacency IS the chain direction
                con.execute(f"""INSERT INTO embeddings
                    VALUES ({10 * (arc + 1) + step}, [{lits}], {arc % 5})""")
        n_doc = con.execute("SELECT count(*) FROM documents").fetchone()[0]
        con.execute(f"""INSERT INTO documents
            SELECT 9000000 + r.range, t.txt, 'en', 'mirror', length(t.txt)
            FROM (SELECT 'the same boilerplate page body repeated verbatim '
                      || 'across every mirror of the crawl snapshot' AS txt) t,
                 range({int(0.45 * n_doc)}) r""")

    # seeds >= 27 (round-16 verdict task 3): DEEP keeper chains for
    # q113's functionalRoots — the seed-24 arcs only reach depth 2
    # (one halving round); these reach depth >= 5 so the path-halving
    # loop takes >= 3 productive rounds on fuzz data, not just in the
    # synthetic spec. Geometry: orthonormal basis b_0..b_L
    # (Gram-Schmidt of unit axes against the mega vector m, axes
    # 20..39 — disjoint from the seed-24 arc axes), chain vector
    # v_i = a*b_i + c*b_{i+1} with a^2+c^2=1: adjacent cos = a*c
    # (0.5 plain, ~0.435 near-threshold — both >= the 0.42 SemDedup
    # cut), EVERY non-adjacent pair cos = 0 (no circle wraparound, so
    # unlike a 2-plane arc the chain can be arbitrarily long). Ids
    # ascend along the chain in the small-positive gap (keeper = lower
    # id => drops chain v_k -> v_{k-1} -> ... -> v_0, exactly the
    # functional forest q113 resolves). Depth asserted from the
    # recursive walk below, so a silently-degenerate corpus fails HERE,
    # not as a mysteriously-shallow fuzz pass.
    if seed >= 27:
        import math
        chains = {27: [(8, 0.5)],          # depth 7, plain
                  28: [(6, 0.435)],        # depth 5, near-threshold
                  }.get(seed, [(10, 0.5), (7, 0.435)])  # >=29: a forest
        m = con.execute("""SELECT embedding FROM embeddings
                           WHERE vec_id = -1""").fetchone()[0]
        dim = len(m)
        basis = [list(m)]
        for d in range(20, 40):
            v = [1.0 if j == d else 0.0 for j in range(dim)]
            for b in basis:
                bb = sum(x * x for x in b)
                pj = sum(a * c for a, c in zip(v, b)) / bb
                v = [a - pj * c for a, c in zip(v, b)]
            vn = math.sqrt(sum(x * x for x in v))
            basis.append([x / vn for x in v])
        basis = basis[1:]  # drop m itself
        off = 0
        for cidx, (nvec, cos_adj) in enumerate(chains):
            # a*c = cos_adj with a^2 + c^2 = 1
            a = math.sqrt((1 + math.sqrt(1 - 4 * cos_adj ** 2)) / 2)
            c = cos_adj / a
            for i in range(nvec):
                bi, bj = basis[off + i], basis[off + i + 1]
                vec = [round(a * x + c * y, 3) for x, y in zip(bi, bj)]
                lits = ", ".join(f"CAST({x} AS FLOAT)" for x in vec)
                con.execute(f"""INSERT INTO embeddings
                    VALUES ({40 + 20 * cidx + i}, [{lits}], {cidx % 5})""")
            # CUMULATIVE basis offset — a per-chain `cidx*(nvec+1)`
            # computed from the CURRENT chain's length let chain 2
            # reuse chain 1's last basis vectors (caught on the first
            # seed-29 sweep: ids 60-62 drew cross-chain witnesses 13
            # ids below — oracle-green both engines, but a branching
            # single tree instead of the intended forest)
            off += nvec + 1
        # verify the chains actually chain at the engine's cosine cut:
        # within a chain every adjacent pair >= 0.42 after rounding and
        # every skip pair below it (max keeper-chain depth = nvec-1 by
        # construction), and ACROSS chains every pair is below it (the
        # forest has one root per chain, no cross-arcs)
        all_ids = []
        for cidx, (nvec, _) in enumerate(chains):
            all_ids += [(cidx, 40 + 20 * cidx + i) for i in range(nvec)]
        bad = []
        for ca, x in all_ids:
            for cb, y in all_ids:
                if x < y:
                    v = con.execute(f"""
                        SELECT list_dot_product(a.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[])
                             / sqrt(list_dot_product(a.embedding::DOUBLE[],
                                                     a.embedding::DOUBLE[])
                                  * list_dot_product(b.embedding::DOUBLE[],
                                                     b.embedding::DOUBLE[]))
                        FROM embeddings a, embeddings b
                        WHERE a.vec_id = {x} AND b.vec_id = {y}"""
                        ).fetchone()[0]
                    want_adj = ca == cb and y - x == 1
                    if want_adj != (v >= 0.42):
                        bad.append(((x, y), v))
        assert not bad, f"chain geometry broke at {bad[:3]}"
        print(f"seed={seed} deep chains: depths "
              f"{[n - 1 for n, _ in chains]} verified at the 0.42 cut")

    # star schema: orphan 3% of orders' lineitems, NULL 1% of orderdates
    con.execute("DELETE FROM orders WHERE random() < 0.03")
    con.execute("UPDATE orders SET o_orderdate = NULL WHERE random() < 0.01")
    # high-precision money: the clean generator emits 2-decimal
    # prices/discounts whose every decimal cast is unambiguous — jitter
    # a slice to full-precision doubles so the revenue family's
    # decimal-product chains face values where double→decimal rounding
    # paths can disagree across engines (the q81 class)
    con.execute("""UPDATE lineitem
        SET l_extendedprice = l_extendedprice * (1 + (random() - 0.5) * 1e-4),
            l_discount = random() * 0.1,
            l_tax = random() * 0.08
        WHERE random() < 0.2""")

    for t in TABLES:
        con.execute(f"COPY {t} TO '{dst}/{t}.parquet' (FORMAT PARQUET)")
    counts = {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
              for t in TABLES}
    print(f"seed={seed} dst={dst} rows={counts}")


if __name__ == "__main__":
    seed = int(sys.argv[1])
    dst = sys.argv[2] if len(sys.argv) > 2 else f"/tmp/fuzz_{seed}"
    import os
    os.makedirs(dst, exist_ok=True)
    main(seed, dst)
