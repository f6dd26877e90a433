"""The ``dual_epochs`` workload: the streaming entity-resolution dual as a
real ``foreachBatch`` query, store compaction under ingest, the drained
entity table, and its batch twin ``entity_resolution`` from the catalog.
Both results must hash-match the catalog's DuckDB oracle."""

from __future__ import annotations

import math
import os
import statistics
import time

from perfbench import gen, layers
from perfbench.harness import Bench, Result, latency_metrics

#: documents per run (a seeded sample of the sf0.1 table); None takes all
N_DOCS = 1500
WARM_DOCS = 120
EPOCHS = 3
#: epochs 0..COMPACT_THROUGH are compacted before the next epoch ingests
COMPACT_THROUGH = 1
QUERY = "entity_resolution"


def stage_documents(bench: Bench, name: str, seed: int, n: int | None, epochs: int) -> tuple[str, str, int, list[int]]:
    """Write the documents table (for the twin query and the oracle) and
    one parquet file per epoch (the stream's input, oldest first).
    Returns ``(tables_dir, epochs_dir, documents, bytes per epoch file)``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = gen.documents(seed, n)
    tables = bench.dir(name, "tables")
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False), os.path.join(tables, "documents.parquet"))
    src = bench.dir(name, "epochs")
    epoch = [gen.epoch_of(seed, d, epochs) for d in docs["doc_id"]]
    sizes = []
    t0 = time.time() - epochs
    for e in range(epochs):
        part = docs.loc[[x == e for x in epoch], ["doc_id", "text"]]
        path = os.path.join(src, f"epoch-{e}.parquet")
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), path)
        # the file source takes the oldest file first
        os.utime(path, (t0 + e, t0 + e))
        sizes.append(os.path.getsize(path))
    return tables, src, len(docs), sizes


def _files(root: str) -> dict[str, int]:
    """Size of every visible file under ``root``."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if not n.startswith("."):
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


def dual_pass(bench: Bench, name: str, src: str, tables: str | None, n_docs: int,
              store_stats: dict | None = None):
    """One pass: stream the epoch files through the dual, compact epochs
    ``0..COMPACT_THROUGH`` before the next epoch ingests, drain the
    entities, then run the batch twin over ``tables`` (skipped when
    ``None``). Returns ``(drained entities, twin result)`` as pandas frames."""
    from rapids_and_rivers_spark import catalog
    from rapids_and_rivers_spark.streaming.duals import (
        er_compact_store,
        er_current_entities,
        er_index_foreach_batch,
    )

    spark = bench.spark
    store = bench.dir(name, "store")
    stage = er_index_foreach_batch(store, expected_records=n_docs)
    added = []

    def handle(df, epoch: int) -> None:
        if epoch == COMPACT_THROUGH + 1:
            before = _files(store) if store_stats is not None else None
            with bench.span("er_compact_store"):
                er_compact_store(spark, store, through_epoch=COMPACT_THROUGH)
            if before is not None:
                after = _files(store)
                store_stats["store.files_live_compacted"] = len(after)
                store_stats["compact.bytes_rewritten"] = sum(v for p, v in after.items() if p not in before)
        before = sum(_files(store).values()) if store_stats is not None else 0
        with bench.span("dual.epoch", epoch=epoch):
            stage(df, epoch)
        if store_stats is not None:
            added.append(sum(_files(store).values()) - before)

    source = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    query = (
        source.writeStream.foreachBatch(handle)
        .option("checkpointLocation", bench.path(name, "ckpt"))
        .trigger(availableNow=True).start()
    )
    query.awaitTermination()
    with bench.span("er_current_entities"):
        drained = er_current_entities(spark, store).toPandas()
    twin = None
    if tables is not None:
        with bench.span(f"query.{QUERY}"):
            twin = catalog.queries()[QUERY](spark, tables).toPandas()
    if store_stats is not None:
        store_stats["added"] = store_stats.get("added", 0) + sum(added)
        store_stats["store.files_live"] = len(_files(store))
    return drained, twin


def normalize(df) -> list[tuple]:
    """Order-insensitive canonical rows, as the catalog's oracle checks use."""
    df = df[sorted(df.columns)]
    rows = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                vals.append("NULL")
            elif isinstance(v, float):
                vals.append(f"{v:.6f}")
            else:
                vals.append(str(v))
        rows.append(tuple(vals))
    return sorted(rows)


def oracle(tables: str):
    import duckdb

    from rapids_and_rivers_spark import catalog

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tables}/documents.parquet')")
        return con.execute(catalog.oracle_sql()[QUERY]).df()
    finally:
        con.close()


def dual_epochs(bench: Bench) -> Result:
    bench.session()
    with bench.span("session.warm"):
        # one epoch and a drain pay most of the cold JVM cost; compaction
        # and the twin query reuse the same operators
        _, w_src, w_docs, _ = stage_documents(bench, "warm", bench.seed + 1, WARM_DOCS, 1)
        dual_pass(bench, "warm", w_src, None, w_docs)
    with bench.span("inputs.stage"):
        tables, src, n_docs, sizes = stage_documents(bench, "dual", bench.seed, N_DOCS, EPOCHS)
    start = time.time()
    setup_s = start - bench.started
    passes, walls = [], []
    store_stats = {} if bench.trace else None
    with bench.span("measure"):
        # a pass starts only while the window still has room for one
        while not passes or time.time() - start + statistics.median(walls) <= bench.seconds:
            began = time.time()
            passes.append(dual_pass(bench, f"pass{len(passes)}", src, tables, n_docs, store_stats=store_stats))
            walls.append(time.time() - began)
    rss = bench.peak_rss_mb()
    bench.stop()  # also closes the event log

    res = Result()
    want = normalize(oracle(tables))
    bad = []
    for i, (drained, twin) in enumerate(passes):
        for label, got in (("dual", drained), ("twin", twin)):
            if normalize(got) != want:
                bad.append((f"oracle_mismatch.{label}", f"pass {i}: {len(got)} rows vs {len(want)}", ""))
    # per pass: the epochs, the compaction, the drain and the twin query
    res.attempted = len(passes) * (EPOCHS + 3)
    res.failed = len(bad)
    epochs = bench.tracer.named("dual.epoch", start)
    res.e2e, note = latency_metrics([s["end"] - s["start"] for s in epochs])
    drains = bench.tracer.named("er_current_entities", start)
    dual_s = [d["end"] - f["start"] for f, d in zip(epochs[::EPOCHS], drains)]
    twin_s = [s["end"] - s["start"] for s in bench.tracer.named(f"query.{QUERY}", start)]
    # the twin counts too, so a change to the shared operators moves it
    res.e2e["items_per_s"] = n_docs * len(passes) / (sum(dual_s) + sum(twin_s))
    res.e2e["setup_s"] = setup_s
    res.e2e["peak_rss_mb"] = sum(rss)
    res.report.append(("rss_jvm_mb, rss_driver_mb", rss, "MB"))
    res.report.append(("host_steal_share", bench.steal_share(), "ratio"))
    res.report += [
        ("dual_s", statistics.median(dual_s), "s"),
        ("catalog_s", statistics.median(twin_s), "s"),
        ("documents", n_docs, "count"),
        ("passes", len(passes), "count"),
        ("entities", len(want), "count"),
        ("note", note, ""),
    ] + bad
    if bench.trace:
        store_stats["store.write_amp"] = store_stats.pop("added") / (sum(sizes) * len(passes))
        res.layers = layers.dual_layers(bench, store_stats)
    return res
