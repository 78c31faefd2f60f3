"""Seeded benchmark inputs and their expected outcomes.

Every input is a parquet table under ``<work>/inputs/<workload>-s<seed>-n<rows>``
with a ``manifest.json`` beside the data.  The manifest holds what the
engine must report for that table, derived by plain Spark SQL and Python
over the generated rows (the spec's rules restated by hand, a
re-implementation of the KS drift test, and a shape rule over the JSON
text), never by running the engine.  A table is generated once per
(workload, seed, size) and reused, in a process of its own:

    python3 perfbench/gen.py <workload> <seed> <rows> <path>

Token tables come from the engine's own generator
(``sources.sequences.sequences_df``) and need a Spark session; JSON
documents are drawn in plain Python and written with pyarrow.
"""

from __future__ import annotations

import json
import math
import os
import random
import re
import shutil
import sys
from collections import defaultdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

VOCAB_MAX = 50256
MAX_ITEMS = 2048
N_TOK_MAX = 2048
SOURCES = ("web", "books", "code", "wiki", "forums")
DRIFT_BINS = 256
DRIFT_HI = 2048.0
KS_C_ALPHA_01 = 1.628


def input_dir(work: str, workload: str, seed: int, rows: int) -> str:
    return os.path.join(work, "inputs", f"{workload}-s{seed}-n{rows}")


def load_manifest(path: str) -> dict | None:
    """The manifest of a finished input table, or None if it is absent."""
    try:
        with open(os.path.join(path, "manifest.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _write_manifest(path: str, manifest: dict, workload: str, seed: int,
                    rows: int) -> None:
    """Written last, so a table without a manifest is incomplete and is
    regenerated."""
    manifest.update(workload=workload, seed=seed, rows=rows)
    with open(os.path.join(path, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)


# -- token tables -----------------------------------------------------------

def generate_tokens(spark: SparkSession, seed: int, rows: int, path: str,
                    partitions: int) -> None:
    """``sequences_df(corrupt=True)`` and the source dictionary as parquet,
    with the expected violations in the manifest."""
    from json_schema_modern_spark.sources.sequences import (
        read_token_table, sequences_df, source_dict_df,
    )

    shutil.rmtree(path, ignore_errors=True)
    data = os.path.join(path, "data")
    source_dict_df(spark).write.parquet(os.path.join(path, "source_dict"))
    sequences_df(spark, rows, seed=seed, partitions=partitions,
                 corrupt=True).write.parquet(data)
    _write_manifest(path, _token_expected(read_token_table(spark, data)),
                    "tokens-clean", seed, rows)


def _token_expected(df: DataFrame) -> dict:
    """Expected violation rows per (keyword, keyword_location) for the
    flagship spec (bench.py ``_flagship_spec``) over a token table, stated
    as plain SQL over the rows."""
    bad_hi = F.size(F.filter("tokens", lambda t: t > VOCAB_MAX))
    bad_lo = F.size(F.filter("tokens", lambda t: t < 0))
    missing = (F.col("doc_id").isNull() | F.col("tokens").isNull()
               | F.col("n_tok").isNull() | F.col("source").isNull())
    src_ok = F.col("source").isin(*SOURCES)
    n = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("long")  # noqa: E731
    row = df.agg(
        F.count(F.lit(1)).alias("rows"),
        n(missing).alias("required"),
        n(F.col("doc_id").isNotNull()
          & ~F.col("doc_id").rlike("^doc-[0-9]{12}$")).alias("pattern"),
        n(F.size("tokens") < 1).alias("minItems"),
        n(F.size("tokens") > MAX_ITEMS).alias("maxItems"),
        F.coalesce(F.sum(bad_hi), F.lit(0)).cast("long").alias("items_max"),
        F.coalesce(F.sum(bad_lo), F.lit(0)).cast("long").alias("items_min"),
        n((bad_hi + bad_lo) > 0).alias("items"),
        n(F.col("n_tok") < 1).alias("ntok_min"),
        n(F.col("n_tok") > N_TOK_MAX).alias("ntok_max"),
        n(F.col("source").isNotNull() & ~src_ok).alias("enum"),
    ).first()
    dups = df.groupBy("doc_id").count().filter("count > 1").count()
    expected = {
        "required|/required": row.required,
        "pattern|/properties/doc_id/pattern": row.pattern,
        "minItems|/properties/tokens/minItems": row.minItems,
        "maxItems|/properties/tokens/maxItems": row.maxItems,
        "maximum|/properties/tokens/items/maximum": row.items_max,
        "minimum|/properties/tokens/items/minimum": row.items_min,
        "items|/properties/tokens/items": row.items,
        "minimum|/properties/n_tok/minimum": row.ntok_min,
        "maximum|/properties/n_tok/maximum": row.ntok_max,
        "enum|/properties/source/enum": row.enum,
        # every source outside the dictionary is also outside the enum
        "x-ref|/x-ref/source": row.enum,
        "x-unique|/x-unique/doc_id": dups,
        "x-drift|/x-drift/n_tok": _ks_drifted_groups(df),
    }
    expected = {k: int(v) for k, v in expected.items() if v}
    return {"input_rows": int(row.rows), "expected": expected,
            "violations": sum(expected.values())}


def _width_bucket(v: int) -> int:
    if v < 0:
        return 0
    if v >= DRIFT_HI:
        return DRIFT_BINS + 1
    return int(DRIFT_BINS * (v - 0.0) / DRIFT_HI) + 1


def _ks_drifted_groups(df: DataFrame) -> int:
    """Number of ``source`` groups whose n_tok distribution differs from
    the pooled one by the two-sample KS test at alpha=0.01 over 256 fixed
    bins — recomputed in Python from per-(source, n_tok) counts."""
    per = defaultdict(lambda: defaultdict(int))
    glob = defaultdict(int)
    for r in (df.where(F.col("n_tok").isNotNull())
              .groupBy("source", "n_tok").count().collect()):
        b = _width_bucket(r.n_tok)
        per[r.source][b] += r["count"]
        glob[b] += r["count"]
    buckets = sorted(glob)
    n_glob = sum(glob.values())
    drifted = 0
    for counts in per.values():
        n_grp = sum(counts.values())
        cg = cm = 0
        d = 0.0
        for b in buckets:
            cg += counts.get(b, 0)
            cm += glob[b]
            d = max(d, abs(cg / n_grp - cm / n_glob))
        if d > KS_C_ALPHA_01 * math.sqrt((n_grp + n_glob) / (n_grp * n_glob)):
            drifted += 1
    return drifted


# -- JSON documents ---------------------------------------------------------

_A_VALUE = re.compile(r'"a": (-?[0-9]+|null)')


def json_payload(rng: random.Random) -> str:
    """One document in the four shapes of the headline suite's payload
    table (``__spark_entry__._json_payload_table``), drawn with h in
    [0, 3003): a mixed-type array with ``a`` missing (h%7), a JSON null
    property (h%11), a >int64 integer (h%13), and a typed document with
    ``a`` in [0, 100) otherwise (~69%)."""
    h, k = rng.randrange(3003), rng.randrange(100)
    if h % 7 == 0:
        return f'{{"xs": [{h % 5}, "x"]}}'
    if h % 11 == 0:
        return '{"a": null, "xs": []}'
    if h % 13 == 0:
        return '{"a": 1, "big": 99999999999999999999}'
    return f'{{"a": {k}, "xs": [1, 2]}}'


def json_invalid(payload: str) -> bool:
    """The shape rule, reading only the payload text: a document without
    ``"a"`` or with the >int64 ``big`` is invalid, a null ``a`` is valid,
    and an integer ``a`` is valid up to 80."""
    m = _A_VALUE.search(payload)
    if m is None or '"big"' in payload:
        return True
    return m.group(1) != "null" and int(m.group(1)) > 80


def generate_json(seed: int, rows: int, path: str, files: int) -> None:
    """``rows`` documents with ids 0..rows-1 as ``files`` parquet files (so
    Spark reads them in as many partitions), with a ``source`` column drawn
    with the token table's source weights, which gives the per-layer
    operators a group and reference key on this table.  The manifest holds
    the sorted ids of the invalid documents."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from json_schema_modern_spark.sources.sequences import SOURCE_DICT_ROWS

    shutil.rmtree(path, ignore_errors=True)
    data = os.path.join(path, "data")
    os.makedirs(data)
    rng = random.Random(seed)
    names = [name for name, _, _ in SOURCE_DICT_ROWS]
    weights = [w for _, _, w in SOURCE_DICT_ROWS]
    payloads = [json_payload(rng) for _ in range(rows)]
    sources = rng.choices(names, weights, k=rows)
    step = -(-rows // files)
    for n, lo in enumerate(range(0, rows, step)):
        hi = min(lo + step, rows)
        pq.write_table(pa.table({
            "event_id": pa.array(range(lo, hi), pa.int64()),
            "source": pa.array(sources[lo:hi], pa.string()),
            "payload": pa.array(payloads[lo:hi], pa.string()),
        }), os.path.join(data, f"part-{n:05d}.parquet"))
    invalid = [i for i, p in enumerate(payloads) if json_invalid(p)]
    _write_manifest(path, {"input_rows": rows, "invalid_ids": invalid},
                    "json-hybrid", seed, rows)


# -- checks -------------------------------------------------------------------

def digest(df: DataFrame, cols: list[str]) -> list[int]:
    """[rows, sum of row hashes] over ``cols``: equal digests mean equal
    row multisets for any practical purpose."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.xxhash64(*cols).cast("decimal(38,0)")),
                   F.lit(0)).cast("string").alias("h")).first()
    return [int(r.n), int(r.h)]


def main(argv: list[str]) -> None:
    import run

    workload, seed, rows, path = argv[0], int(argv[1]), int(argv[2]), argv[3]
    run.configure_env()
    if workload == "json-hybrid":
        generate_json(seed, rows, path, files=2 * run.CPUS)
        return
    spark = run.start_session()
    try:
        generate_tokens(spark, seed, rows, path, partitions=2 * run.CPUS)
    finally:
        run.stop_jvm(spark)


if __name__ == "__main__":
    main(sys.argv[1:])
