"""``curation_mix`` workload: ``cli curate run`` over a seeded corpus,
then the fixed query mix.

Set-up writes the seeded input tables (three times; the median counts).
The timed phase, one closed loop on the driver:

1. ``cli curate run --docs <documents> --reports size_dist,token_budget,
   dup_by_length,leakage_split`` -- the staged LSH -> connected-components
   pipeline (``CurationRun``), a one-shot CLI command timed as its user
   pays it;
2. each query of ``layers.TIMED_QUERIES``, built and collected:
   ``WARMUP_PASSES`` untimed passes (counted in set-up) execute each plan
   for the first time and let the JVM compile the driver's hot paths (a
   query keeps getting faster for ten to twenty passes after its first),
   then passes are timed until they have run ``--seconds``. The passes
   take the orders of the queries in turn, all of them, in a seeded
   shuffle, so no query always follows the same one. Collecting (rather
   than the noop sink) hands the rows to the output check without a
   second execution.

The traced run (``--trace 1``) then runs the rest of ``layers.QUERIES``
the same way, so every query of the mix gets its per-layer numbers.

The output checks run after the timed phase: every query's rows against
its DuckDB oracle with the comparator of ``tools/run_oracle_gate.py``, and
the ``curate run`` tables (keep list, manifest, summary) and, in the traced
run, the connected-components queries against clusters resolved from the
DuckDB oracle's LSH candidate pairs.
"""

from __future__ import annotations

import importlib.util
import itertools
import os
from collections import Counter
import random
import time

from perfbench import stats
from perfbench.corpus import write_tables
from perfbench.harness import Ctx, Outcome, cli, cpu_steal_s, span, steal_since, tree_size
from perfbench.layers import QUERIES, TIMED_QUERIES

N_DOCS = 500
N_EMBEDDINGS = 500
N_LINEITEM = 30_000
N_EVENTS = 10_000
WARMUP_PASSES = 10
REPORTS = "size_dist,token_budget,dup_by_length,leakage_split"
PREFIX = "curation"
# queries whose DuckDB oracle resolves connected components with a
# recursive CTE: 10-20 s each even at 500 documents, so they are checked
# against the oracle's candidate pairs resolved in Python instead (see
# _oracle_clusters and _cc_consistency)
CC_QUERIES = ("dedup_clusters", "corpus_dedup_summary", "doc_curation_decision")
LSH_PAIRS_ORACLE = "dedup_minhash_lsh_pairs"


def setup(ctx: Ctx) -> tuple[str, list[float]]:
    data = os.path.join(ctx.work, "data")
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        write_tables(data, ctx.seed, N_DOCS, N_EMBEDDINGS, N_LINEITEM, N_EVENTS)
        times.append(time.perf_counter() - t0)
    return data, times


def run(ctx: Ctx, out: Outcome) -> None:
    from beacon_indexer_spark.plans.queries import QUERIES as Q

    data, render_s = setup(ctx)
    out.details["render_s"] = render_s
    spark = ctx.spark
    lake_dir = os.path.join(ctx.work, "lake")
    docs = os.path.join(data, "documents.parquet")
    rng = random.Random(ctx.seed)
    orders = list(itertools.permutations(TIMED_QUERIES))
    rng.shuffle(orders)
    extra = [q for q in QUERIES if q not in TIMED_QUERIES]
    rng.shuffle(extra)
    if ctx.tracer:
        _instrument(ctx.tracer)

    query_s: dict[str, list[float]] = {q: [] for q in TIMED_QUERIES}
    rows: dict[str, list] = {}

    def query(name):
        with span(ctx, f"queries.{name}.build", engine=True):
            df = Q[name](spark, data)
        with span(ctx, f"queries.{name}.exec", engine=True):
            return [r.asDict() for r in df.collect()], df.columns

    with span(ctx, "timed", engine=True):
        with span(ctx, "curation.run", engine=True):
            curate_s, report = out.op("curate run", cli, [
                "--lake-dir", lake_dir, "curate", "run", "--docs", docs,
                "--prefix", PREFIX, "--reports", REPORTS], spark)
        # first executions and JIT warm-up: set-up, not samples
        passes = itertools.cycle(orders)
        warmup_s = sum(out.op(f"query {name}", query, name)[0]
                       for _ in range(WARMUP_PASSES) for name in next(passes))
        steal0, tq = cpu_steal_s(), time.perf_counter()
        while True:
            for name in next(passes):
                secs, rows[name] = out.op(f"query {name}", query, name)
                query_s[name].append(secs)
            if time.perf_counter() - tq >= ctx.seconds:
                break
        out.details["timed_window_steal_s"] = steal_since(steal0)
        if ctx.tracer:
            for name in extra:
                _, rows[name] = out.op(f"query {name}", query, name)

    if ctx.tracer:
        ctx.tracer.restore()
    q = stats.timing(query_s)
    out.metrics.update({
        "bulk_s": curate_s,
        "query_p50_s": q["median"],
        "query_tail_s": q["tail"],
        "query_mix_s": sum(stats.median(xs) for xs in query_s.values()),
        "bytes_per_input_byte": tree_size(lake_dir, ".parquet")[1] / os.path.getsize(docs),
    })
    out.details.update({
        "warmup_s": warmup_s, "curation_run_s": curate_s, "curate_report": report,
        "query": q, "query_s": query_s, "orders": orders,
        "traced_only": extra if ctx.tracer else [],
    })
    if ctx.tracer:
        _layers(ctx, out)
    _checks(out, data, lake_dir, rows)


# -- output checks ---------------------------------------------------------

def _comparator():
    """``_normalize`` / ``_values_match`` of tools/run_oracle_gate.py."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "tools", "run_oracle_gate.py")
    spec = importlib.util.spec_from_file_location("run_oracle_gate", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._normalize, mod._values_match


def _compare(normalize, match, got: list[dict], cols: list[str], ora) -> str | None:
    ora_cols = [d[0] for d in ora.description]
    want = [dict(zip(ora_cols, r)) for r in ora.fetchall()]
    if sorted(cols) != sorted(ora_cols):
        return f"columns {sorted(cols)} != oracle {sorted(ora_cols)}"
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"
    keys = sorted(cols)
    if not match(normalize(got, keys), normalize(want, keys)):
        return "values differ from the oracle"
    return None


def _read_lake_table(lake_dir: str, table: str) -> list[dict]:
    import duckdb

    con = duckdb.connect()
    try:
        got = con.execute(f"SELECT * EXCLUDE (inserted_at) FROM "
                          f"read_parquet('{lake_dir}/{table}/**/*.parquet')")
        cols = [d[0] for d in got.description]
        return [dict(zip(cols, r)) for r in got.fetchall()]
    finally:
        con.close()


def _oracle_clusters(con, sql: str) -> dict[int, int]:
    """Connected components of the oracle's LSH candidate pairs, by union
    find: {doc_id: minimum doc_id of its component} for every document
    that has a pair (what ``dedup_clusters`` returns)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in con.execute(sql).fetchall():
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _cc_consistency(lake_dir: str, rows: dict, clusters: dict[int, int]) -> str | None:
    """The staged ``curate run`` tables against the oracle's clusters: the
    same cluster per document, a keep flag on exactly its minimum id,
    keep list and manifest in agreement, and the summary row recomputed
    from the clusters. In the traced run, ``dedup_clusters`` and
    ``corpus_dedup_summary`` must give the same clusters and summary."""
    keep = {r["doc_id"]: r for r in _read_lake_table(lake_dir, f"{PREFIX}_keep_list")}
    manifest = {r["doc_id"]: r for r in _read_lake_table(lake_dir, f"{PREFIX}_manifest")}
    (summary,) = _read_lake_table(lake_dir, f"{PREFIX}_summary")
    if "dedup_clusters" in rows:
        got = {r["doc_id"]: r["cluster_id"] for r in rows["dedup_clusters"][0]}
        if got != clusters:
            return "dedup_clusters differs from the oracle's clusters"
    if set(keep) != set(manifest):
        return "keep list and manifest cover different documents"
    for doc, r in keep.items():
        cid = clusters.get(doc, doc)
        if r["cluster_id"] != cid or manifest[doc]["cluster_id"] != cid:
            return f"doc {doc}: cluster {r['cluster_id']} != oracle cluster {cid}"
        if r["keep"] != int(cid == doc) or manifest[doc]["keep"] != r["keep"]:
            return f"doc {doc}: keep flag {r['keep']} in cluster {cid}"
    sizes = Counter(clusters.values())
    n_docs, n_dup, n_cl = len(keep), len(clusters), len(sizes)
    want = {"n_docs": n_docs, "n_dup_docs": n_dup, "n_clusters": n_cl,
            "max_cluster_size": max(sizes.values(), default=0),
            "n_kept": n_docs - (n_dup - n_cl),
            "dup_rate": round((n_dup - n_cl) / n_docs, 6)}
    if summary != want:
        return f"summary {summary} != recomputed from the oracle's clusters {want}"
    if "corpus_dedup_summary" in rows and [summary] != rows["corpus_dedup_summary"][0]:
        return f"summary {summary} != corpus_dedup_summary {rows['corpus_dedup_summary'][0]}"
    return None


def _checks(out: Outcome, data: str, lake_dir: str, rows: dict) -> None:
    import duckdb

    from beacon_indexer_spark.plans.queries import oracles

    normalize, match = _comparator()
    sql = oracles()
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings", "lineitem", "events"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        for name in rows:
            if name in CC_QUERIES:
                continue

            def vs_oracle(name=name):
                if rows.get(name) is None:
                    return "query did not run"
                got, cols = rows[name]
                return _compare(normalize, match, got, cols, con.execute(sql[name]))
            out.check(f"oracle:{name}", vs_oracle)
        out.check("oracle:curate_clusters", lambda: _cc_consistency(
            lake_dir, rows, _oracle_clusters(con, sql[LSH_PAIRS_ORACLE])))
    finally:
        con.close()
    if "doc_curation_decision" in rows:
        out.check("curation_decision_rows", lambda: None if rows[
            "doc_curation_decision"] and rows["doc_curation_decision"][0]
            else "doc_curation_decision returned no rows")


# -- traced run --------------------------------------------------------------

def _instrument(t) -> None:
    from beacon_indexer_spark.operators import dedup as D
    from beacon_indexer_spark.plans import pipeline as P

    t.patch(D, "connected_components", "dedup.connected_components", engine=True)
    t.patch(D, "minhash_lsh_candidates", "dedup.minhash_lsh_candidates")
    t.patch(D, "broadcast_if_small", "dedup.broadcast_if_small")
    t.patch(P.CurationRun, "__init__", "curation.stage", engine=True)


def _layers(ctx: Ctx, out: Outcome) -> None:
    t = ctx.tracer
    L_ = out.layers
    (run,) = t.named("curation.run")
    # staging inside ``curate run`` only, not inside a standalone query
    stage_s = sum(s["end"] - s["start"] for s in t.named("curation.stage")
                  if run["start"] <= s["start"] <= run["end"])
    for q in QUERIES:
        b, e = f"queries.{q}.build", f"queries.{q}.exec"

        def both(key, b=b, e=e):
            x, y = t.engine_sum(b, key), t.engine_sum(e, key)
            return None if x is None or y is None else x + y

        L_.update({
            f"queries.{q}.build_s": t.total(b),
            f"queries.{q}.exec_s": t.total(e),
            f"queries.{q}.jobs": both("jobs"),
            f"queries.{q}.exchanges": both("exchanges"),
            f"queries.{q}.scans": both("scans"),
            f"queries.{q}.shuffle_bytes": both("shuffle_write_bytes"),
        })
    L_.update({
        "dedup.connected_components_s": t.total("dedup.connected_components"),
        "dedup.connected_components_jobs": t.engine_sum("dedup.connected_components", "jobs"),
        "dedup.minhash_lsh_candidates_build_s": t.total("dedup.minhash_lsh_candidates"),
        "dedup.broadcast_if_small_calls": len(t.named("dedup.broadcast_if_small")),
        "curation.stage_s": stage_s,
        "curation.outputs_s": t.total("curation.run") - stage_s,
        "curation.jobs": t.engine_sum("curation.run", "jobs"),
    })
