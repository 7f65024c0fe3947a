"""Record ``goldens.json``: the expected output of each query in the pack
over the benchmark's generated tables.

Usage, from the root of a checkout: ``python3 perfbench/record_goldens.py``

Each query runs on Spark under two shuffle-partition counts, the way a
benchmark pass runs it (noop write, row count and content hash observed on
the side, ``workloads.observed``). Its golden is that row count and hash
when both runs agree, and the row count alone ("rows" mode) when the
hashes differ, because the output is not deterministic. A query with a
DuckDB oracle in ``plans.registry.ORACLE`` must also return, collected, the
same rows as the oracle (compared by ``canonical_hash``), or nothing is
written.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run  # noqa: E402
import workloads  # noqa: E402


def canonical_hash(pdf) -> str:
    """Order-insensitive content hash: columns sorted by name, rows sorted,
    floats by ``repr`` (lossless), every cell length-prefixed."""
    import numpy as np

    def cell(v) -> str:
        if v is None:
            return "\0NULL"
        if isinstance(v, (float, np.floating)):
            f = float(v)
            return "\0NAN" if f != f else repr(f)
        if isinstance(v, (np.integer,)):
            return str(int(v))
        if isinstance(v, (np.bool_, bool)):
            return str(bool(v))
        if isinstance(v, (list, tuple, np.ndarray)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        return str(v)

    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = sorted(
        "\x1f".join(f"{len(c)}:{c}" for c in map(cell, rec))
        for rec in pdf.itertuples(index=False, name=None)
    )
    h = hashlib.md5("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1d" + r.encode(errors="replace"))
    return h.hexdigest()


def main() -> int:
    import duckdb
    from pyspark.sql import Observation

    work = os.path.join(HERE, ".work", f"goldens-{os.getpid()}")
    os.makedirs(work)
    os.chdir(work)
    run.pin_environment(work)
    from etl_from_s3_to_postgresql_template_spark.plans import ORACLE, QUERIES
    from etl_from_s3_to_postgresql_template_spark.session import get_spark

    tables = os.path.join(work, "tables")
    rows = workloads.gen_tables.generate(tables)
    con = duckdb.connect()
    for t in rows:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    spark = get_spark("perfbench-goldens", extra_conf=run.spark_conf(work))
    goldens, problems = {}, []
    try:
        for q in workloads.QUERY_PACK:
            results = []
            for parts in ("4", "11"):
                spark.conf.set("spark.sql.shuffle.partitions", parts)
                obs = Observation(f"out_{q}")
                workloads.observed(QUERIES[q](spark, tables), obs).write.format("noop").mode(
                    "overwrite"
                ).save()
                results.append((obs.get["rows"], obs.get["xxsum"]))
            (n, h), (n2, h2) = results
            if n != n2:
                problems.append(f"{q}: row count differs between runs ({n} vs {n2})")
                continue
            g = {"rows": n, "mode": "hash" if h == h2 else "rows", "xxsum": h if h == h2 else None}
            if q in ORACLE:
                pdf = QUERIES[q](spark, tables).toPandas()
                odf = con.execute(ORACLE[q]).df()
                g["oracle"] = "duckdb"
                if (len(pdf), canonical_hash(pdf)) != (len(odf), canonical_hash(odf)) or len(pdf) != n:
                    problems.append(f"{q}: spark ({len(pdf)} rows) != oracle ({len(odf)} rows)")
            goldens[q] = g
            print(q, g, flush=True)
    finally:
        run.stop_spark(spark)
        os.chdir(HERE)
        shutil.rmtree(work, ignore_errors=True)
    if problems:
        print("\n".join(problems), file=sys.stderr)
        return 1
    doc = {
        "about": "Expected query_pack outputs over gen_tables (data seed "
        f"{workloads.gen_tables.DATA_SEED}); written by record_goldens.py.",
        "rows_only": sorted(q for q, g in goldens.items() if g["mode"] == "rows"),
        "queries": goldens,
    }
    with open(workloads.GOLDENS, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
