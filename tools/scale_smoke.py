"""x10 scale-up smoke for the iterative heavies (VERDICT r5 item 3).

The largest local testdata is sf0.1; this tool materializes a ~sf1
dataset — 10 DECORRELATED replicas of sf0.1 — once in a temp dir and
answers the question the plans otherwise answer only on paper: do the
pair-finding stages grow linearly with the data, or is there a hidden
quadratic candidate blowup?

Replica decorrelation (without it the measurement is meaningless —
10 identical copies share LSH buckets by construction and any scheme
goes quadratic):

- ``documents.text``: per-replica rotation of the 10 most common
  letters (``translate(text, 'etaoinshrd', rot_i)``), so replica
  shingle sets are mutually disjoint while length/shape distributions
  are preserved; replica 0 keeps the original bytes.
- ``embeddings.embedding``: cyclic rotation of the (64-dim) vector by
  the replica index — norm and coordinate distribution preserved,
  hyperplane buckets decorrelated. (An earlier cut sliced ``[i+1:16]``,
  silently truncating replicas to 16 dims; the degenerate sign bits
  then funneled everything into a handful of mega-buckets and the
  candidate count read 2470x. Moral for the real pipeline: validate
  vector LENGTH at ingest — dimension drift corrupts LSH silently.)
- ``orders``/``lineitem``: key columns shifted by replica *
  (max_key + 1), giving 10 disjoint order graphs of identical shape.

What is measured and asserted:

- ``q_dedup_minhash_lsh`` (declared query, as-is): MinHash band keys
  are md5 hashes, so bucket CARDINALITY grows with N and candidate
  pairs must stay ~linear. Asserted: cand(x10) <= 2 * 10 * cand(sf0.1).
- ``q_pagerank`` (declared query, as-is): per-iteration shuffle rows =
  the edge count. Asserted exactly 10x (disjoint replicas).
- ``knn_graph`` / ``k_core_peel``: planes-per-table is AUTO-SCALED
  from the corpus row count (plans/dedup.knn_n_planes: P ~ log2(N/64)
  clamped to [4, 12] — VERDICT r6 item 2 turned the manual dial into
  the default plan). The smoke measures candidate pairs analytically
  at both scales UNDER THE DEFAULT RULE and asserts candidates-per-row
  stays within 2x of the sf0.1 level, reports the frozen-plane blowup
  as the documented anti-pattern, then runs the graph build + peel
  END-TO-END at the default x10 operating point.

Usage: python tools/scale_smoke.py [sf_dir] [--keep]
Prints one JSON summary line; exit 0 = all assertions hold.
The x10 dir is cached at /tmp/spark_graft_scale10 across runs (delete
to rebuild, or pass --keep to skip the atexit cleanup of a fresh one).
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

FACTOR = 10
CACHE_DIR = "/tmp/spark_graft_scale10"
ROT = "etaoinshrd"


def build_scale_dir(sf_dir: str, keep: bool,
                    cache_dir: str = CACHE_DIR,
                    factor: int = FACTOR) -> str:
    """Materialize the xN parquet dir (documents, embeddings, orders,
    lineitem — the tables the four heavies read)."""
    if os.path.isdir(cache_dir) and os.path.exists(
        os.path.join(cache_dir, "lineitem.parquet")
    ):
        print(f"reusing cached x{factor} dir {cache_dir}", file=sys.stderr)
        return cache_dir
    os.makedirs(cache_dir, exist_ok=True)
    if not keep:
        import atexit
        import shutil

        atexit.register(shutil.rmtree, cache_dir, ignore_errors=True)
    con = duckdb.connect()
    t0 = time.perf_counter()

    def shift(src: str, out: str, parts: list[str]) -> None:
        # One file PER REPLICA inside a <table>.parquet directory — the
        # layout real ingest produces (many files), and what keeps the
        # Spark scan parallel: a single sub-128MB file scans as ONE
        # task, which serialized the whole 6M-row lineitem probe of
        # pagerank_edges onto one core in the first cut of this tool.
        d = os.path.join(cache_dir, out)
        os.makedirs(d, exist_ok=True)
        for i, part in enumerate(parts):
            con.execute(
                f"COPY ({part}) TO '{os.path.join(d, f'part-{i}.parquet')}'"
                " (FORMAT PARQUET)"
            )

    doc = os.path.join(sf_dir, "documents.parquet")
    (dmax,) = con.execute(
        f"SELECT MAX(doc_id) + 1 FROM '{doc}'"
    ).fetchone()
    parts = []
    for i in range(factor):
        rot = ROT[i:] + ROT[:i]
        parts.append(
            f"SELECT doc_id + {i * dmax} AS doc_id,"
            f" translate(text, '{ROT}', '{rot}') AS text,"
            f" lang, source, n_chars FROM '{doc}'"
        )
    shift(doc, "documents.parquet", parts)

    emb = os.path.join(sf_dir, "embeddings.parquet")
    (vmax,) = con.execute(
        f"SELECT MAX(vec_id) + 1 FROM '{emb}'"
    ).fetchone()
    parts = []
    for i in range(factor):
        rot_e = (
            "embedding" if i == 0
            else f"list_concat(embedding[{i + 1}:], embedding[1:{i}])"
        )
        parts.append(
            f"SELECT vec_id + {i * vmax} AS vec_id,"
            f" {rot_e} AS embedding, label FROM '{emb}'"
        )
    shift(emb, "embeddings.parquet", parts)

    orders = os.path.join(sf_dir, "orders.parquet")
    li = os.path.join(sf_dir, "lineitem.parquet")
    (omax, cmax) = con.execute(
        f"SELECT MAX(o_orderkey) + 1, MAX(o_custkey) + 1 FROM '{orders}'"
    ).fetchone()
    (smax,) = con.execute(
        f"SELECT MAX(l_suppkey) + 1 FROM '{li}'"
    ).fetchone()
    shift(orders, "orders.parquet", [
        f"SELECT * REPLACE (o_orderkey + {i * omax} AS o_orderkey,"
        f" o_custkey + {i * cmax} AS o_custkey) FROM '{orders}'"
        for i in range(factor)
    ])
    shift(li, "lineitem.parquet", [
        f"SELECT * REPLACE (l_orderkey + {i * omax} AS l_orderkey,"
        f" l_suppkey + {i * smax} AS l_suppkey) FROM '{li}'"
        for i in range(factor)
    ])
    con.close()
    # Provenance marker (ADVICE r10, bench.py:246): bench.py refuses to
    # pair an sf1 section with a cache built from a DIFFERENT source dir
    # than the one it is benching, instead of silently mismatching.
    with open(os.path.join(cache_dir, "SOURCE.txt"), "w") as fh:
        fh.write(os.path.abspath(sf_dir) + "\n")
    print(
        f"built x{factor} dir in {time.perf_counter() - t0:.1f}s", file=sys.stderr
    )
    return cache_dir


def decon_join_rows(spark, sf_dir: str) -> int:
    """Output rows of q_decontaminate's train-shingle ⋈ eval-shingle-set
    join — the quantity its bounded-fan-out claim says stays ~linear
    (each train shingle matches the DISTINCT eval set at most once)."""
    from pyspark.sql import functions as F

    from audios_to_dataset_spark.catalog import load
    from audios_to_dataset_spark.operators import dedup as D
    from audios_to_dataset_spark.plans.infostats import DECON_N

    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    sh = D.shingles(docs, n=DECON_N)
    train_sh = sh.filter(F.col("id") % 10 != 7)
    eval_set = sh.filter(F.col("id") % 10 == 7).select("shingle").distinct()
    return train_sh.join(eval_set, "shingle").count()


def _pairs(counts_df) -> int:
    """sum over buckets of n*(n-1)/2 — the candidate-pair count of an
    equi-self-join on the bucket key."""
    row = counts_df.agg(
        F.sum((F.col("count") * (F.col("count") - 1) / 2).cast("bigint"))
    ).first()
    return int(row[0] or 0)


def minhash_candidates(spark, sf_dir: str) -> int:
    from audios_to_dataset_spark.catalog import load
    from audios_to_dataset_spark.operators import dedup as D

    sigs = D.minhash_signatures(load(spark, sf_dir, "documents"))
    return _pairs(D.lsh_bands(sigs, "id").groupBy("band", "band_key").count())


def knn_candidates(spark, sf_dir: str, planes) -> int:
    from audios_to_dataset_spark.catalog import load
    from audios_to_dataset_spark.operators.similarity import (
        multitable_buckets,
    )

    em = load(spark, sf_dir, "embeddings")
    return _pairs(multitable_buckets(em, planes).groupBy("bucket").count())


def cc_shingle_candidates(spark, sf_dir: str) -> int:
    """Candidate pairs of the n-gram Jaccard inverted-index self-join
    (sum over post-cap shingles of n*(n-1)/2) — the pair-finding stage
    feeding the CC fixpoint behind q_dedup_clusters / q_split_assign.
    Replica decorrelation (letter rotation) keeps replica shingle sets
    ~disjoint, so growth must be ~linear; shingles made only of
    non-rotated chars do collide across replicas, but those are
    high-frequency and die at the max_shingle_freq cap."""
    from audios_to_dataset_spark.catalog import load
    from audios_to_dataset_spark.operators.dedup import shingles
    from audios_to_dataset_spark.plans.dedup import MAX_SHINGLE_FREQ

    d = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    sh = shingles(d)
    freq = sh.groupBy("shingle").count()
    return _pairs(freq.filter(F.col("count") <= MAX_SHINGLE_FREQ))


def cc_edges(spark, sf_dir: str) -> int:
    """Near-dup pair count above threshold — the CC fixpoint's actual
    edge frame (what connected_components localCheckpoints once)."""
    from audios_to_dataset_spark.catalog import load
    from audios_to_dataset_spark.operators.dedup import ngram_jaccard_pairs
    from audios_to_dataset_spark.plans.dedup import MAX_SHINGLE_FREQ

    d = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    return ngram_jaccard_pairs(
        d, threshold=0.2, max_shingle_freq=MAX_SHINGLE_FREQ
    ).count()


def pagerank_edges(spark, sf_dir: str) -> int:
    from audios_to_dataset_spark.catalog import load
    from audios_to_dataset_spark.plans._edges import trade_edges

    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey").isNotNull())
    li = load(spark, sf_dir, "lineitem")
    return trade_edges(o, li).count()


def run_query(fn, spark, sf_dir: str) -> tuple[float, int]:
    t0 = time.perf_counter()
    n = fn(spark, sf_dir).count()
    return round(time.perf_counter() - t0, 1), n


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    keep = "--keep" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"

    from audios_to_dataset_spark.catalog import load
    from audios_to_dataset_spark.plans import all_queries
    from audios_to_dataset_spark.plans.dedup import knn_n_planes, knn_planes
    from audios_to_dataset_spark.session import get_session

    x10 = build_scale_dir(sf_dir, keep)
    spark = get_session("scale_smoke")
    spark.sparkContext.setLogLevel("ERROR")
    q = all_queries()
    # The DECLARED plan: planes-per-table derived from the corpus row
    # count (plans/dedup.knn_n_planes — P ~ log2(N/64) clamped to
    # [4,12]). r6's separate "scaled twin" is gone; what this smoke
    # asserts IS the default q_knn_graph operating point at both scales.
    n1 = load(spark, sf_dir, "embeddings").count()
    n10 = load(spark, x10, "embeddings").count()
    planes_base = knn_planes(n1)
    planes_x10 = knn_planes(n10)

    out: dict = {"sf_dir": sf_dir, "x10_dir": x10, "factor": FACTOR}
    failures: list[str] = []

    # --- candidate growth, measured analytically ---
    mh1 = minhash_candidates(spark, sf_dir)
    mh10 = minhash_candidates(spark, x10)
    out["minhash_cand"] = {"sf0.1": mh1, "x10": mh10,
                           "ratio": round(mh10 / max(mh1, 1), 2)}
    if mh10 > 2 * FACTOR * mh1:
        failures.append(
            f"minhash candidates superlinear: {mh10} > 2*10*{mh1}"
        )

    k1 = knn_candidates(spark, sf_dir, planes_base)
    k10 = knn_candidates(spark, x10, planes_x10)
    kfixed10 = knn_candidates(spark, x10, planes_base)
    out["knn_cand"] = {
        "sf0.1_auto_planes": {"n": n1, "p": knn_n_planes(n1),
                              "cand": k1},
        "x10_auto_planes": {"n": n10, "p": knn_n_planes(n10),
                            "cand": k10},
        "x10_frozen_base_planes": kfixed10,  # the anti-pattern, FYI
        "cand_per_row": {"sf0.1": round(k1 / max(n1, 1), 2),
                         "x10": round(k10 / max(n10, 1), 2)},
    }
    # the DEFAULT plan must keep candidates-per-row flat across x10
    # (frozen planes are reported, not asserted — they are the measured
    # quadratic anti-pattern the auto rule exists to prevent)
    if k10 * n1 > 2 * k1 * n10:
        failures.append(
            f"knn candidates-per-row superlinear at default planes: "
            f"{k10}/{n10} > 2 * {k1}/{n1}"
        )

    pe1 = pagerank_edges(spark, sf_dir)
    pe10 = pagerank_edges(spark, x10)
    out["pagerank_edges"] = {"sf0.1": pe1, "x10": pe10}
    if pe10 != FACTOR * pe1:
        failures.append(f"pagerank edges not exactly 10x: {pe10} vs {pe1}")

    # --- CC fixpoint family (VERDICT r8 item 2): the n-gram Jaccard
    # pair graph behind q_dedup_clusters / q_split_assign gets the same
    # x10 pin as the LSH family — candidate pairs of the inverted-index
    # self-join AND the resulting edge frame must both stay ~linear ---
    cj1 = cc_shingle_candidates(spark, sf_dir)
    cj10 = cc_shingle_candidates(spark, x10)
    ce1 = cc_edges(spark, sf_dir)
    ce10 = cc_edges(spark, x10)
    out["cc_pair_growth"] = {
        "shingle_cand": {"sf0.1": cj1, "x10": cj10,
                         "ratio": round(cj10 / max(cj1, 1), 2)},
        "edges": {"sf0.1": ce1, "x10": ce10,
                  "ratio": round(ce10 / max(ce1, 1), 2)},
    }
    if cj10 > 2 * FACTOR * cj1:
        failures.append(
            f"cc shingle candidates superlinear: {cj10} > 2*10*{cj1}"
        )
    if ce10 > 2 * FACTOR * ce1:
        failures.append(f"cc edges superlinear: {ce10} > 2*10*{ce1}")

    dj1 = decon_join_rows(spark, sf_dir)
    dj10 = decon_join_rows(spark, x10)
    out["decon_join"] = {"sf0.1": dj1, "x10": dj10,
                         "ratio": round(dj10 / max(dj1, 1), 2)}
    if dj10 > 2 * FACTOR * dj1:
        failures.append(
            f"decontaminate join output superlinear: {dj10} > 2*10*{dj1}"
        )

    # --- analytic x100 projection (VERDICT r10 item 5) ---
    # Fit the growth exponent alpha = log10(c10/c1) from the measured
    # x1/x10 pair and PROJECT each family to x100 (c100 ~ c10^2/c1 under
    # the fitted power law) — a quadratic-by-construction family fails
    # here without ever building a x100 copy. Totals may grow up to 2x
    # linear (alpha <= 1 + log10 2, the same headroom as the direct x10
    # gates above); knn candidates-PER-ROW must stay flat to within 2x
    # (alpha <= log10 2).
    import math

    lin = 1.0 + math.log10(2.0)
    flat = math.log10(2.0)
    proj: dict = {}
    for fam, c1, c10, allowed in (
        ("minhash_cand", mh1, mh10, lin),
        ("cc_shingle_cand", cj1, cj10, lin),
        ("cc_edges", ce1, ce10, lin),
        ("decon_join", dj1, dj10, lin),
        ("pagerank_edges", pe1, pe10, lin),
        ("knn_cand_per_row", k1 / max(n1, 1), k10 / max(n10, 1), flat),
    ):
        if c1 > 0 and c10 > 0:
            alpha = math.log10(c10 / c1)
            x100 = c10 * (c10 / c1)
        else:
            alpha, x100 = 0.0, 0.0  # degenerate family at this SF
        proj[fam] = {
            "x1": round(c1, 3), "x10": round(c10, 3),
            "alpha": round(alpha, 3), "allowed_alpha": round(allowed, 3),
            "x100_proj": round(x100, 1),
        }
        if alpha > allowed:
            failures.append(
                f"{fam} projects superlinear to x100: alpha "
                f"{alpha:.3f} > {allowed:.3f} (x100 ~ {x100:.0f})"
            )
        elif c1 == 0 and c10 > 2 * FACTOR:
            # Growth from an EMPTY x1 base is unprojectable — and the
            # exact regime a quadratic family hides in (ADVICE r11: the
            # old code recorded alpha 0.0 and passed silently). More
            # than 2x-linear-from-zero fails; a handful of rows is
            # logged as unprojectable so the record shows the gap.
            failures.append(
                f"{fam} grows from an empty x1 base: x10 = {c10:.0f}"
                " (unprojectable; rebuild the family at a larger base"
                " SF to measure alpha)"
            )
        elif c1 == 0 and c10 > 0:
            proj[fam]["unprojectable"] = (
                f"x1 base empty, x10 = {c10:.3f}: alpha unmeasurable"
            )
    out["x100_projection"] = proj

    # --- end-to-end completion at x10 ---
    e2e: dict = {}
    for name in ("q_dedup_minhash_lsh", "q_pagerank"):
        secs, rows = run_query(q[name], spark, x10)
        e2e[name] = {"sec": secs, "rows": rows}
        if rows <= 0:
            failures.append(f"{name} empty at x10")

    # q_split_assign at x10 (the CC fixpoint consumer): every non-NULL
    # doc gets exactly one split label — rows must equal the distinct
    # doc count, or the fixpoint dropped/duplicated labels at scale
    n_docs = (
        load(spark, x10, "documents")
        .filter(F.col("doc_id").isNotNull())
        .count()
    )
    secs, rows = run_query(q["q_split_assign"], spark, x10)
    e2e["q_split_assign"] = {"sec": secs, "rows": rows, "n_docs": n_docs}
    if rows != n_docs:
        failures.append(
            f"q_split_assign labeled {rows} of {n_docs} docs at x10"
        )

    # knn graph + k-core peel at the DEFAULT operating point (the same
    # operator code path as q_knn_graph / q_kcore — the auto rule picks
    # the planes, no separate scaled twin)
    from audios_to_dataset_spark.operators.graph import k_core_peel
    from audios_to_dataset_spark.operators.similarity import knn_graph
    from audios_to_dataset_spark.plans.sketches import KCORE_K, KCORE_ROUNDS
    from audios_to_dataset_spark.plans.similarity import KNN_K

    em = load(spark, x10, "embeddings")
    t0 = time.perf_counter()
    g = knn_graph(em, planes_x10, k=KNN_K).localCheckpoint(eager=True)
    n_edges = g.count()
    e2e["knn_graph_scaled"] = {
        "sec": round(time.perf_counter() - t0, 1), "rows": n_edges
    }
    if n_edges <= 0:
        failures.append("knn_graph empty at x10")
    t0 = time.perf_counter()
    mutual = g.select("src", "dst").join(
        g.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        ["src", "dst"],
    )
    surv = k_core_peel(mutual, k=KCORE_K, rounds=KCORE_ROUNDS).count()
    e2e["kcore_scaled"] = {
        "sec": round(time.perf_counter() - t0, 1), "rows": surv
    }
    # DBSCAN at x10 at the DECLARED operating point (round 9: q_dbscan
    # auto-scales planes-per-table via dbscan_planes — the r8 version
    # of this smoke widened planes by hand, which hid that the declared
    # plan was still frozen at 12x4; the new sf1 bench entry caught it
    # at 152 s). Asserts the clustering completes and labels every
    # surviving vector exactly once.
    from audios_to_dataset_spark.operators.similarity import dbscan_clusters
    from audios_to_dataset_spark.plans.dedup import (
        EMB_THRESHOLD,
        dbscan_planes,
    )
    from audios_to_dataset_spark.plans.similarity import DBSCAN_MIN_PTS

    t0 = time.perf_counter()
    roles = dict(
        dbscan_clusters(
            em, dbscan_planes(n10), EMB_THRESHOLD, DBSCAN_MIN_PTS
        )
        .groupBy("role")
        .count()
        .collect()
    )
    n_labeled = sum(roles.values())
    e2e["dbscan_scaled"] = {
        "sec": round(time.perf_counter() - t0, 1),
        "roles": {k: int(v) for k, v in roles.items()},
    }
    n_vec = em.filter(
        F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
    ).count()
    if n_labeled != n_vec:
        failures.append(
            f"dbscan labeled {n_labeled} of {n_vec} vectors at x10"
        )

    out["e2e_x10"] = e2e
    out["failures"] = failures
    print(json.dumps(out))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
