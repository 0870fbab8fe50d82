"""Local correctness harness mimicking the driver's t2 gate.

For every registered query: run the Spark callable AND the DuckDB oracle on
the same sf dir, then compare row count, column names, and order-insensitive
row values. Floats are compared exactly first (the driver hash is exact);
on mismatch the max abs diff is reported so rounding strategy can be tuned.

Usage:
    python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def normalize(df):
    """pandas DF -> canonical list of row tuples (column-name sorted,
    row-sorted, floats kept exact)."""
    cols = sorted(df.columns)
    df = df[cols]
    rows = []
    for row in df.itertuples(index=False, name=None):
        norm = []
        for v in row:
            if v is None:
                norm.append(("n", None))
            elif isinstance(v, float):
                # pandas conflates NULL and NaN for double columns on both
                # sides; normalize to one sentinel so comparisons agree.
                norm.append(("n", None) if math.isnan(v) else ("f", v))
            elif hasattr(v, "isoformat"):
                norm.append(("t", v.isoformat()))
            elif isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
                norm.append(("a", tuple(float(x) for x in v)))
            else:
                norm.append((type(v).__name__[:1], v))
        rows.append(tuple(norm))
    return cols, sorted(rows, key=repr)


def compare(name, spark_pdf, oracle_pdf):
    issues = []
    s_cols, s_rows = normalize(spark_pdf)
    o_cols, o_rows = normalize(oracle_pdf)
    if s_cols != o_cols:
        issues.append(f"SCHEMA: spark={s_cols} oracle={o_cols}")
    if len(s_rows) != len(o_rows):
        issues.append(f"ROWCOUNT: spark={len(s_rows)} oracle={len(o_rows)}")
    if not issues and s_rows != o_rows:
        # find first differing row + max float diff
        max_diff, n_diff, example = 0.0, 0, None
        for a, b in zip(s_rows, o_rows):
            if a != b:
                n_diff += 1
                if example is None:
                    example = (a, b)
                for (ta, va), (tb, vb) in zip(a, b):
                    if ta == tb == "f" and not (math.isnan(va) and math.isnan(vb)):
                        max_diff = max(max_diff, abs(va - vb))
        issues.append(
            f"VALUES: {n_diff}/{len(s_rows)} rows differ, max_float_diff={max_diff:.3e}\n"
            f"    spark : {example[0] if example else None}\n"
            f"    oracle: {example[1] if example else None}"
        )
    return issues


def _union_find_labels(edges):
    """{node: min node reachable} via path-halving union-find (min-root
    merge), driver-side. The edge count is bounded by the near-dup pair
    count — thousands, not the corpus — so this is trivially feasible at
    any sf the pairs SQL itself can handle."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _oracle_dedup_clusters(con):
    """Iterative-fixpoint oracle for dedup_clusters: the registry's
    recursive-CTE oracle (reach = transitive closure) is infeasible in
    DuckDB beyond sf0.01; same semantics here = pairs SQL (non-recursive,
    shared with the registry oracle) + union-find over the fetched edges."""
    import pandas as pd

    from opencode_hive_archon_spark.operators.dedup import ORACLE_CLUSTER_EDGES_SQL

    edges = con.execute(ORACLE_CLUSTER_EDGES_SQL).fetchall()
    label = _union_find_labels(edges)
    sizes: dict = {}
    for lab in label.values():
        sizes[lab] = sizes.get(lab, 0) + 1
    df = pd.DataFrame(
        [(d, c, sizes[c], d == c) for d, c in label.items()],
        columns=["doc_id", "cluster_id", "cluster_size", "keep"],
    )
    return df.astype({"cluster_size": "int64", "keep": "bool"})


def _oracle_graph_khop(con):
    """Iterative BFS oracle for recall_graph_khop: edges SQL (non-recursive,
    shared with the registry oracle) + level-synchronous BFS from the seeds,
    min-hop per node, labels joined back from embeddings."""
    import pandas as pd

    from opencode_hive_archon_spark.operators.graph import (
        GRAPH_SEEDS,
        K_HOPS,
        ORACLE_GRAPH_EDGES_SQL,
    )

    adj: dict = {}
    for a, b in con.execute(ORACLE_GRAPH_EDGES_SQL).fetchall():
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    hop = {int(s): 0 for s in GRAPH_SEEDS}
    frontier = set(hop)
    for h in range(1, K_HOPS + 1):
        frontier = {
            v for u in frontier for v in adj.get(u, ()) if v not in hop
        }
        for v in frontier:
            hop[v] = h
    labels = dict(con.execute("SELECT vec_id, label FROM embeddings").fetchall())
    df = pd.DataFrame(
        [(v, h, labels[v]) for v, h in sorted(hop.items())],
        columns=["vec_id", "hop", "label"],
    )
    return df.astype({"vec_id": "int64", "hop": "int64"})


def _oracle_dedup_pipeline(con):
    """Iterative-fixpoint oracle for corpus_dedup_pipeline: exact map SQL +
    survivor pairs SQL (both non-recursive, shared with the registry
    oracle) + union-find over the fetched survivor edges."""
    import pandas as pd

    from opencode_hive_archon_spark.operators.dedup import (
        ORACLE_LADDER_EDGES_SQL,
        ORACLE_LADDER_EXACT_SQL,
    )

    exact = dict(con.execute(ORACLE_LADDER_EXACT_SQL).fetchall())
    label = _union_find_labels(con.execute(ORACLE_LADDER_EDGES_SQL).fetchall())
    rows = []
    for doc_id, rep in sorted(exact.items()):
        canonical = label.get(rep, rep)
        status = (
            "exact_dup" if doc_id != rep
            else ("near_dup" if doc_id != canonical else "kept")
        )
        rows.append((doc_id, canonical, status))
    return pd.DataFrame(rows, columns=["doc_id", "canonical_id", "status"])


def _oracle_triangle_stats(con):
    """Set-based oracle for graph_triangle_stats: the edges SQL (shared
    with the registry oracle) fetched once, then the registry oracle's
    census in Python — orient each edge from its lower (degree, id) end,
    count the oriented wedges (v, w) with k(v) < k(w) per source, and
    the ones closed by an oriented edge v -> w. The registry SQL inlines
    the pairs CTE more than once; at sf0.1 its cosine join passed 9 GB."""
    import pandas as pd

    from opencode_hive_archon_spark.operators.graph import ORACLE_GRAPH_EDGES_SQL

    edges = con.execute(ORACLE_GRAPH_EDGES_SQL).fetchall()
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    key = {u: (len(vs), u) for u, vs in adj.items()}
    out = {u: {v for v in vs if key[u] < key[v]} for u, vs in adj.items()}
    n_wedges = n_triangles = 0
    for vs in out.values():
        n_wedges += len(vs) * (len(vs) - 1) // 2
        n_triangles += sum(len(vs & out[v]) for v in vs)
    (n_nodes,) = con.execute("SELECT count(*) FROM embeddings").fetchone()
    ratio = n_triangles / n_wedges if n_wedges else None
    return pd.DataFrame(
        [(n_nodes, len(edges), n_wedges, n_triangles, ratio)],
        columns=["n_nodes", "n_edges", "n_wedges", "n_triangles",
                 "closure_ratio"],
    ).astype({"n_nodes": "int64", "n_edges": "int64", "n_wedges": "int64",
              "n_triangles": "int64", "closure_ratio": "float64"})


# Queries whose registry oracle DuckDB cannot evaluate past sf0.01 (a
# recursive CTE, or the triangle census's repeated cosine join): this
# harness swaps in the equivalents above (same edges SQL, same counts).
# The registry SQL itself is untouched and still gates sf0.01.
ITER_ORACLES = {
    "dedup_clusters": _oracle_dedup_clusters,
    "recall_graph_khop": _oracle_graph_khop,
    "corpus_dedup_pipeline": _oracle_dedup_pipeline,
    "graph_triangle_stats": _oracle_triangle_stats,
}

# DuckDB's own cap: an oracle that outgrows it fails with an
# out-of-memory error for its query instead of the process being killed.
DUCKDB_MEMORY_LIMIT = "4GB"


def main():
    import duckdb

    from opencode_hive_archon_spark import registry
    from opencode_hive_archon_spark.session import TABLE_NAMES, get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("check")
    con = duckdb.connect()
    con.execute(f"SET memory_limit = '{DUCKDB_MEMORY_LIMIT}'")
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    specs = registry.all_specs()
    n_pass = n_fail = n_rows_only = 0
    for name, spec in specs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = spec.fn(get_spark("check"), sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if spec.oracle is None:
            ok = len(spark_pdf) >= 0
            print(f"rows-only {name}: {len(spark_pdf)} rows ({time.time()-t0:.1f}s)")
            n_rows_only += 1
            continue
        try:
            if name in ITER_ORACLES:
                oracle_pdf = ITER_ORACLES[name](con)
            else:
                oracle_pdf = con.execute(spec.oracle).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        sd = {c: str(t) for c, t in spark_pdf.dtypes.items()}
        od = {c: str(t) for c, t in oracle_pdf.dtypes.items()}
        dtype_diff = {
            c: (sd.get(c), od.get(c)) for c in sd if sd.get(c) != od.get(c)
        }
        if dtype_diff:
            print(f"  DTYPE {name}: {dtype_diff}")
        issues = compare(name, spark_pdf, oracle_pdf)
        if issues:
            n_fail += 1
            print(f"FAIL {name} ({time.time()-t0:.1f}s)")
            for i in issues:
                print(f"  {i}")
        else:
            n_pass += 1
            print(f"PASS {name}: {len(spark_pdf)} rows ({time.time()-t0:.1f}s)")

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
