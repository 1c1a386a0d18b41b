"""The benchmark's workloads.

Each of the four jobs is a pair of functions over a ``Ctx`` (see run.py):

- ``setup_<job>(ctx)`` builds what the job needs once per process (inputs
  are already written); its time counts in ``setup_s``.
- ``measure_<job>(ctx)`` runs the job's minimum unit of work, more while
  ``ctx.seconds`` have not passed, checks every output, and records the
  measured part's wall time plus the job's named metrics.

A workload runs two of them in one process: a batch job (``dag_build``,
``release_cold``), whose wall time is ``batch_s``, then a loop of small
operations (``lake_cdc``, ``retrieval``), whose wall time is ``loop_s``.

Every package call goes through the package's public API. In traced runs
the spans around those calls come from tracing.py's wrappers; the spans the
workloads open themselves carry the layer prefix of the call they time.
"""

from __future__ import annotations

import collections
import hashlib
import os
import shutil
import statistics
import time

# -- dag_build ---------------------------------------------------------------

DAG_DIRS = ("examples/corpus/models", "examples/analytics/models")
DAG_LEAVES = ("corpus_stats", "vocab", "retention", "top_spend_days", "transitions")
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]


def setup_dag_build(ctx) -> None:
    models = {}
    for d in DAG_DIRS:
        full = os.path.join(ctx.root, d)
        for fn in sorted(os.listdir(full)):
            if fn.endswith(".sql"):
                with open(os.path.join(full, fn)) as fh:
                    models[fn[:-4]] = fh.read()
    ctx.state["models"] = models
    ctx.state["leaf"] = DAG_LEAVES[ctx.seed % len(DAG_LEAVES)]


def _dag_tests(spark, proj) -> dict[str, int]:
    """One generic dbt test of each kind, across both sub-DAGs; every count
    is a violation count."""
    return {
        "unique.docs_split.doc_id": proj.test_unique(spark, "docs_split", "doc_id"),
        "not_null.daily_activity.day": proj.test_not_null(spark, "daily_activity", "day"),
        "accepted.transitions.from_type": proj.test_accepted_values(
            spark, "transitions", "from_type", EVENT_TYPES
        ),
        "rel.docs_split.doc_id": proj.test_relationships(
            spark, "docs_split", "doc_id", "docs_dedup", "doc_id"
        ),
    }


def _dag_project(ctx, i: int):
    """A fresh database holding the raw sources, and the DAG over it."""
    from dbt_parquet_spark.catalog import FilesystemCatalog
    from dbt_parquet_spark.project import Model, Project

    db = os.path.join(ctx.work, f"dag_db_{i}")
    os.makedirs(db)
    for t in ("documents", "events"):
        shutil.copy(ctx.inputs[t], db)
    cat = FilesystemCatalog(db)
    return db, cat, Project(cat, [Model(name=n, sql=s) for n, s in ctx.state["models"].items()])


def _dag_run(ctx, proj) -> tuple[dict, float]:
    with ctx.phase("dag.run"):
        t0 = time.perf_counter()
        results = proj.run(ctx.spark, threads=4)
        dt = time.perf_counter() - t0
    ctx.check(len(results) == len(proj.models), f"run built {len(results)} of {len(proj.models)} models")
    ctx.layer_add("project.models_built", sum(not r.skipped for r in results.values()))
    return results, dt


def _dag_cycle(ctx) -> dict[str, float]:
    """run, test, docs, edit one leaf, rerun with state="modified"."""
    from dbt_parquet_spark.project import Model

    spark = ctx.spark
    db, cat, proj = _dag_project(ctx, 0)
    times = {}
    results, times["run"] = _dag_run(ctx, proj)
    with ctx.phase("dag.test"):
        t0 = time.perf_counter()
        violations = _dag_tests(spark, proj)
        times["test"] = time.perf_counter() - t0
    for name, n in violations.items():
        ctx.check(n == 0, f"test {name}: {n} violations")
    with ctx.phase("dag.docs"):
        t0 = time.perf_counter()
        art = cat.docs_artifact(spark)
        times["docs"] = time.perf_counter() - t0
    rows = {
        node["metadata"]["name"]: node["stats"]["num_rows"]["value"]
        for node in art["nodes"].values()
    }
    for name, res in results.items():
        ctx.check(rows.get(name) == res.rows, f"docs rows {name}: {rows.get(name)} != {res.rows}")
    leaf = ctx.state["leaf"]
    # a leading comment: the QUALIFY rewrite drops a trailing one, so a
    # trailing comment would leave top_spend_days' compiled SQL unchanged
    proj.add(Model(name=leaf, sql="-- edited\n" + ctx.state["models"][leaf]))
    with ctx.phase("dag.rerun"):
        t0 = time.perf_counter()
        rerun = proj.run(spark, threads=4, state="modified")
        times["rerun"] = time.perf_counter() - t0
    built = sorted(n for n, r in rerun.items() if not r.skipped)
    ctx.check(built == [leaf], f"rerun built {built}, expected [{leaf}]")
    ctx.layer_add("project.models_built", len(built))
    ctx.layer_add("project.models_skipped", sum(r.skipped for r in rerun.values()))
    shutil.rmtree(db, ignore_errors=True)
    return times


def measure_dag_build(ctx) -> None:
    """The batch job is one cycle: run, test, docs, edit, rerun."""
    t_start = time.perf_counter()
    first = ctx.attempt(_dag_cycle, ctx)
    ctx.set_job("batch", time.perf_counter() - t_start)
    if first is None:
        return
    ctx.named("first_run_s", first["run"], "s")
    ctx.named("rerun_s", first["rerun"], "s")
    ctx.named("test_s", first["test"], "s")
    ctx.named("docs_s", first["docs"], "s")


# -- release_cold ------------------------------------------------------------


def setup_release_cold(ctx) -> None:
    """Nothing to build: the release runs cold from the raw documents."""


def _release(ctx) -> tuple[float, str]:
    """The release job; returns its wall time and the release's
    order-insensitive hash."""
    from pyspark.sql import functions as F

    from dbt_parquet_spark import materialize
    from dbt_parquet_spark.catalog import FilesystemCatalog
    from dbt_parquet_spark.operators import corpus, release, shards

    spark, sf = ctx.spark, ctx.input_dir
    db = os.path.join(ctx.work, "release_db")
    os.makedirs(db)
    cat = FilesystemCatalog(db)
    t_all = time.perf_counter()
    with ctx.phase("release.datasheet"):
        with ctx.span("operators.datasheet.build"):
            ds = corpus.q_corpus_datasheet(spark, sf)
        with ctx.span("operators.datasheet.exec"):
            sheet = ds.collect()
    with ctx.phase("release.corpus_release"):
        with ctx.span("operators.corpus_release.build"):
            released = release.q_corpus_release(spark, sf)
        with ctx.span("operators.corpus_release.exec"):
            span_removed = released.agg(F.sum("n_removed")).first()[0] or 0
    with ctx.phase("release.substring_scrub"):
        with ctx.span("operators.release_substring_scrub.build"):
            substr = release.q_release_substring_scrub(spark, sf)
        with ctx.span("operators.release_substring_scrub.exec"):
            sub_removed = substr.agg(F.sum("n_removed")).first()[0] or 0
    with ctx.phase("release.publish"):
        rel = cat.relation("released_corpus")
        materialize.create_table_as(spark, cat, rel, released)
    with ctx.phase("release.shards"):
        with ctx.span("operators.shards"):
            shardable = (
                spark.table(rel.view_name)
                .select("doc_id", "source", F.col("released_text").alias("text"))
                .withColumn("n_chars", F.length("text").cast("long"))
            )
            manifest = shards.write_training_shards(
                spark, cat, cat.relation("release_shards"), shardable
            ).collect()
    wall = time.perf_counter() - t_all

    # output checks (not timed)
    out = spark.table(rel.view_name).select("doc_id", "released_text").collect()
    n_released = len(out)
    n_sheet = sum(r.n_docs for r in sheet)
    ctx.check(n_sheet == ctx.state["n_docs"], f"datasheet counts {n_sheet} docs of {ctx.state['n_docs']}")
    ctx.check(0 < n_released <= n_sheet, f"released {n_released} of {n_sheet} docs")
    ctx.check(
        sum(r.n_docs for r in manifest) == n_released,
        f"shard manifest holds {sum(r.n_docs for r in manifest)} docs, released {n_released}",
    )
    ctx.check(len({r.released_text for r in out}) == n_released, "two released docs share a text")
    ctx.check(span_removed >= 0 and sub_removed >= 0, "negative scrub accounting")
    digest = hashlib.sha256()
    for doc_id, text in sorted((r.doc_id, r.released_text) for r in out):
        digest.update(f"{doc_id}\t{text}\n".encode())
    shutil.rmtree(db, ignore_errors=True)
    return wall, digest.hexdigest()


def measure_release_cold(ctx) -> None:
    import pyarrow.parquet as pq

    ctx.state["n_docs"] = pq.ParquetFile(ctx.inputs["documents"]).metadata.num_rows
    t_start = time.perf_counter()
    got = ctx.attempt(_release, ctx)
    if got is None:
        ctx.set_job("batch", time.perf_counter() - t_start)
        return
    wall, digest = got
    ctx.set_job("batch", wall)
    ctx.named("release_s", wall, "s")
    ctx.record("release_hash", digest)
    earlier = [h for h in ctx.previous("release_hash") if h]
    ctx.check(
        all(h == digest for h in earlier),
        f"release hash {digest[:12]} differs from an earlier run of seed {ctx.seed}",
    )


# -- lake_cdc ----------------------------------------------------------------

LAKE_KEY = "o_orderkey"
LAKE_FILES = 8
# the commits of one run; the first is always the CoW merge, the seed orders
# the rest. The mix is fixed so every seed does the same amount of work.
LAKE_COMMITS = ("merge_cow", "delete_mor", "append")
LAKE_COMMIT_KEYS = {"merge_cow": 200, "delete_mor": 100, "append": 300}
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
LAKE_READ_SPAN = 2000


def setup_lake_cdc(ctx) -> None:
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from dbt_parquet_spark import versioned
    from dbt_parquet_spark.catalog import FilesystemCatalog
    from dbt_parquet_spark.sources.readers import read_parquet

    spark = ctx.spark
    n = pq.ParquetFile(ctx.inputs["orders"]).metadata.num_rows
    db = os.path.join(ctx.work, "lake_db")
    os.makedirs(db)
    cat = FilesystemCatalog(db)
    src, rep = cat.relation("orders_v"), cat.relation("orders_replica")
    base = read_parquet(spark, ctx.inputs["orders"])
    clustered = base.repartitionByRange(LAKE_FILES, F.col(LAKE_KEY)).sortWithinPartitions(LAKE_KEY)
    v0 = versioned.write_versioned(spark, cat, src, clustered, stats_cols=(LAKE_KEY,))
    # the replica starts as a copy of the table's root: the manifest names
    # its data files relative to that root
    shutil.copytree(cat.fs_path(src), cat.fs_path(rep))
    ctx.state.update(
        cat=cat, src=src, rep=rep, applied=v0, keys=set(range(n)), next_key=n,
        schema=base.schema, row_bytes=os.path.getsize(ctx.inputs["orders"]) / n,
    )


def _lake_rows(ctx, keys: list[int], rng):
    """Order rows for ``keys`` within the value ranges of sf0.1 ``orders``
    (custkey 0-14999, price 1001.91-499993.18, dates 1995-01-01 to
    2001-08-01)."""
    import datetime

    day0 = datetime.datetime(1995, 1, 1)
    rows = [
        (
            int(k),
            int(rng.integers(0, 15_000)),
            "FOP"[int(rng.integers(0, 3))],
            float(int(rng.integers(100_191, 49_999_319))) / 100.0,
            day0 + datetime.timedelta(days=int(rng.integers(0, 2404))),
            PRIORITIES[int(rng.integers(0, len(PRIORITIES)))],
        )
        for k in keys
    ]
    return ctx.spark.createDataFrame(rows, ctx.state["schema"])


def _current(ctx) -> dict:
    from dbt_parquet_spark import versioned

    st = ctx.state
    return next(h for h in versioned.version_history(st["cat"], st["src"]) if h["is_current"])


def _snapshot_files(ctx, rel) -> dict[str, int]:
    from dbt_parquet_spark import versioned

    with ctx.untraced():
        files = versioned.read_versioned(ctx.spark, ctx.state["cat"], rel).inputFiles()
    return {f: os.path.getsize(f.replace("file://", "")) for f in files}


def _lake_commit(ctx, op: str, rng) -> float:
    from pyspark.sql import functions as F

    from dbt_parquet_spark import versioned

    st, spark = ctx.state, ctx.spark
    cat, src, keys = st["cat"], st["src"], st["keys"]
    k = LAKE_COMMIT_KEYS[op]
    before = _snapshot_files(ctx, src) if ctx.tracing else None
    if op == "append":
        new = list(range(st["next_key"], st["next_key"] + k))
        df = _lake_rows(ctx, new, rng)
        t0 = time.perf_counter()
        versioned.write_versioned(spark, cat, src, df, mode="append")
        dt = time.perf_counter() - t0
        st["next_key"] += k
        keys.update(new)
    elif op.startswith("merge"):
        # half the keys update existing rows, half land past the current end
        lo = int(rng.integers(0, st["next_key"] - k // 2))
        upd = list(range(lo, lo + k // 2)) + list(range(st["next_key"], st["next_key"] + k // 2))
        df = _lake_rows(ctx, upd, rng)
        t0 = time.perf_counter()
        versioned.merge_versioned(spark, cat, src, df, key=LAKE_KEY, mode=op.split("_")[1])
        dt = time.perf_counter() - t0
        st["next_key"] += k // 2
        keys.update(upd)
    else:
        lo = int(rng.integers(0, st["next_key"] - k))
        cond = F.col(LAKE_KEY).between(lo, lo + k - 1)
        t0 = time.perf_counter()
        versioned.delete_versioned(spark, cat, src, cond, prune={LAKE_KEY: (lo, lo + k - 1)}, mode="mor")
        dt = time.perf_counter() - t0
        keys.difference_update(range(lo, lo + k))
    ctx.layer_sample(f"versioned.{op.split('_')[0]}", dt)
    if before is not None:
        after = _snapshot_files(ctx, src)
        new_bytes = sum(size for f, size in after.items() if f not in before)
        ctx.layer_add("versioned.bytes_written", new_bytes)
        ctx.layer_add("versioned.user_bytes", k * st["row_bytes"])
        if op.startswith("merge"):
            ctx.layer_sample("versioned.files_rewritten", len([f for f in before if f not in after]))
    cur = _current(ctx)
    ctx.check(cur["rows"] == len(keys), f"{op}: table holds {cur['rows']} rows, model {len(keys)}")
    return dt


def _lake_read(ctx, rng) -> float:
    from pyspark.sql import functions as F

    from dbt_parquet_spark import versioned

    st = ctx.state
    lo = int(rng.integers(0, st["next_key"] - LAKE_READ_SPAN))
    hi = lo + LAKE_READ_SPAN - 1
    t0 = time.perf_counter()
    df = versioned.read_versioned(ctx.spark, st["cat"], st["src"], where={LAKE_KEY: (lo, hi)})
    n = df.filter(F.col(LAKE_KEY).between(lo, hi)).count()
    dt = time.perf_counter() - t0
    ctx.layer_sample("versioned.read", dt)
    if ctx.tracing:
        ctx.layer_sample("versioned.files_scanned", len(df.inputFiles()))
    want = sum(1 for key in range(lo, hi + 1) if key in st["keys"])
    ctx.check(n == want, f"pruned read [{lo}, {hi}]: {n} rows, model {want}")
    return dt


def _fingerprint(ctx, rel) -> tuple:
    from pyspark.sql import functions as F

    from dbt_parquet_spark import versioned

    df = versioned.read_versioned(ctx.spark, ctx.state["cat"], rel)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row.n), row.h


def _lake_apply(ctx) -> tuple[float, float]:
    from dbt_parquet_spark import versioned

    st, spark = ctx.state, ctx.spark
    to_v = _current(ctx)["version"]
    t0 = time.perf_counter()
    with ctx.span("versioned.changes"):
        n_changes = versioned.read_versioned_changes(spark, st["cat"], st["src"], st["applied"], to_v).count()
    t_changes = time.perf_counter() - t0
    t0 = time.perf_counter()
    versioned.apply_changes_versioned(spark, st["cat"], st["src"], st["rep"], LAKE_KEY, st["applied"], to_v)
    t_apply = time.perf_counter() - t0
    st["applied"] = to_v
    ctx.check(n_changes > 0, "change feed is empty after commits")
    src_fp, rep_fp = _fingerprint(ctx, st["src"]), _fingerprint(ctx, st["rep"])
    ctx.check(src_fp == rep_fp, f"replica {rep_fp} != source {src_fp} after apply")
    return t_changes, t_apply


def measure_lake_cdc(ctx) -> None:
    """The job: the CoW merge, one catch-up of the replica over that single
    version, the other commits, each commit followed by a pruned read, then
    optimize and vacuum. ``apply_changes_versioned`` costs 4-7 s per source
    version it consumes, so the run catches up once, over one version.
    Further commits and reads follow while ``ctx.seconds`` have not passed."""
    import numpy as np

    from dbt_parquet_spark import versioned

    st = ctx.state
    rng = np.random.default_rng([ctx.seed, 7])
    ops = [LAKE_COMMITS[0]] + [LAKE_COMMITS[j] for j in 1 + rng.permutation(len(LAKE_COMMITS) - 1)]
    commits, reads = [], []

    def commit_and_read(op: str) -> None:
        dt = ctx.attempt(_lake_commit, ctx, op, rng)
        if dt is not None:
            commits.append(dt)
        dt = ctx.attempt(_lake_read, ctx, rng)
        if dt is not None:
            reads.append(dt)

    t_start = time.perf_counter()
    with ctx.phase("lake.commits"):
        commit_and_read(ops[0])
    with ctx.phase("lake.apply"):
        applied = ctx.attempt(_lake_apply, ctx)
    with ctx.phase("lake.commits"):
        for op in ops[1:]:
            commit_and_read(op)
    with ctx.phase("lake.maintenance"):
        t0 = time.perf_counter()
        ctx.attempt(versioned.optimize_versioned, ctx.spark, st["cat"], st["src"])
        t_opt = time.perf_counter() - t0
        t0 = time.perf_counter()
        ctx.attempt(versioned.vacuum_versions, st["cat"], st["src"], keep_last=1, orphan_grace_s=0.0)
        t_vac = time.perf_counter() - t0
    ctx.set_job("loop", time.perf_counter() - t_start)
    final = ctx.attempt(_fingerprint, ctx, st["src"])
    if final is not None:
        n = final[0]
        ctx.check(n == len(st["keys"]), f"after optimize+vacuum: {n} rows, model {len(st['keys'])}")
    with ctx.phase("lake.commits"):
        while time.perf_counter() - t_start < ctx.seconds:
            commit_and_read(LAKE_COMMITS[int(rng.integers(0, len(LAKE_COMMITS)))])
    if not commits:
        return
    ctx.named("commits", len(commits), "count")
    ctx.named("commit_p50_s", statistics.median(commits), "s")
    if len(commits) >= 100:
        ctx.named("commit_p90_s", statistics.quantiles(commits, n=10)[-1], "s")
    if reads:
        ctx.named("read_p50_s", statistics.median(reads), "s")
    if applied is not None:
        ctx.named("changes_s", applied[0], "s")
        ctx.named("apply_s", applied[1], "s")
    ctx.named("optimize_s", t_opt, "s")
    ctx.named("vacuum_s", t_vac, "s")


# -- retrieval ---------------------------------------------------------------

# (module, query): exact and LSH nearest neighbours, hybrid BM25 + cosine
# serving and BM25 alone. None of them needs the materialized IVF-PQ index,
# whose build does not fit the run budget (README.md, "Run budget").
RETRIEVAL_QUERIES = (
    ("similarity", "q_ann_topk"),
    ("similarity", "q_ann_lsh"),
    ("serving", "q_hybrid_retrieval"),
    ("text", "q_bm25_topk"),
)
# recall against the exact top-k computed in NumPy. q_ann_topk is exact.
# LSH's recall is recorded, not checked: it depends on which vectors share a
# bucket, which the seed's sign flips change, and on these embeddings it ran
# 0.13-0.53 over 32 seeds (README.md, "Output checks")
RECALL_FLOOR = {"q_ann_topk": 1.0}


def setup_retrieval(ctx) -> None:
    """The exact top-k baseline, computed here rather than by the package."""
    import numpy as np
    import pyarrow.parquet as pq

    from dbt_parquet_spark.operators import similarity

    emb = pq.read_table(ctx.inputs["embeddings"]).to_pydict()
    vecs = np.asarray(emb["embedding"], dtype=np.float64)
    ids = np.asarray(emb["vec_id"])
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    exact = set()
    for q in range(similarity.N_QUERIES):
        cos = unit @ unit[q]
        ranked = sorted((-c, int(i)) for c, i in zip(cos, ids) if i != q)
        exact.update((q, i) for _, i in ranked[: similarity.TOP_K])
    ctx.state.update(
        exact=exact,
        top_k=similarity.TOP_K,
        unit={int(i): unit[k] for k, i in enumerate(ids)},
        results={},
    )


def _query(ctx, module: str, name: str) -> float:
    import importlib

    mod = importlib.import_module(f"dbt_parquet_spark.operators.{module}")
    t0 = time.perf_counter()
    with ctx.span(f"similarity.{name}.build"):
        df = getattr(mod, name)(ctx.spark, ctx.input_dir)
    with ctx.span(f"similarity.{name}.exec"):
        rows = df.collect()
    dt = time.perf_counter() - t0
    st = ctx.state
    ctx.check(len(rows) > 0, f"{name} returned no rows")
    if rows and name.startswith("q_ann"):
        off = max(abs(r.cos_sim - float(st["unit"][r.query_id] @ st["unit"][r.neighbor_id])) for r in rows)
        ctx.check(off < 1e-6, f"{name} returned a cosine {off:.2e} off the true value")
        got = {(r.query_id, r.neighbor_id) for r in rows}
        ctx.check(all(q != n for q, n in got), f"{name} returned a query as its own neighbour")
        most = max(collections.Counter(q for q, _ in got).values())
        ctx.check(most <= st["top_k"], f"{name} returned {most} neighbours for one query")
        recall = len(st["exact"] & got) / len(st["exact"])
        ctx.record(f"recall.{name}", recall)
        if name in RECALL_FLOOR:
            ctx.check(recall >= RECALL_FLOOR[name], f"{name} recall {recall:.3f} < {RECALL_FLOOR[name]}")
    canon = sorted(tuple(r) for r in rows)
    prev = st["results"].setdefault(name, canon)
    ctx.check(prev == canon, f"{name} result changed between rounds")
    return dt


def measure_retrieval(ctx) -> None:
    """Closed loop, one client: each query is sent when the previous one has
    returned; whole rounds of the queries until ``ctx.seconds``. The loop
    part is the first round."""
    rounds: list[list[float]] = []
    t_start = time.perf_counter()
    while not rounds or time.perf_counter() - t_start < ctx.seconds:
        times = []
        with ctx.phase(f"retrieval.round{len(rounds)}"):
            for module, name in RETRIEVAL_QUERIES:
                dt = ctx.attempt(_query, ctx, module, name)
                if dt is not None:
                    times.append(dt)
        rounds.append(times)
        if len(rounds) == 1:
            ctx.set_job("loop", time.perf_counter() - t_start)
    queries = [t for r in rounds for t in r]
    if not queries:
        return
    ctx.named("queries", len(queries), "count")
    ctx.named("query_p50_s", statistics.median(queries), "s")
    if len(queries) >= 100:
        ctx.named("query_p90_s", statistics.quantiles(queries, n=10)[-1], "s")


def _pair(setup_batch, measure_batch, setup_loop, measure_loop):
    """One workload: both set-ups, then the batch job, then the loop."""

    def setup(ctx) -> None:
        setup_batch(ctx)
        setup_loop(ctx)

    def measure(ctx) -> None:
        measure_batch(ctx)
        measure_loop(ctx)

    return setup, measure


# name -> (input tables, setup, measure)
WORKLOADS = {
    "dag_lake": (
        ("documents", "events", "orders"),
        *_pair(setup_dag_build, measure_dag_build, setup_lake_cdc, measure_lake_cdc),
    ),
    "release_retrieval": (
        ("documents", "embeddings"),
        *_pair(setup_release_cold, measure_release_cold, setup_retrieval, measure_retrieval),
    ),
}
