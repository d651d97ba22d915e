"""Local replica of the driver's correctness gate: run every queries()
entry through Spark AND its oracle_sql() through DuckDB on the same
parquet, compare row count / schema / order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import sys

import duckdb
import numpy as np

sys.path.insert(0, ".")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def compare(name: str, spark_df, sql: str | None, con) -> str:
    spdf = spark_df.toPandas()
    if sql is None:
        return f"ROWS_ONLY rows={len(spdf)}"
    odf = con.execute(sql).fetchdf()
    if len(spdf) != len(odf):
        return f"FAIL rowcount spark={len(spdf)} oracle={len(odf)}"
    scols = sorted(spdf.columns)
    ocols = sorted(odf.columns)
    if scols != ocols:
        return f"FAIL columns spark={scols} oracle={ocols}"
    s = spdf[scols].sort_values(scols, ignore_index=True)
    o = odf[scols].sort_values(scols, ignore_index=True)
    for c in scols:
        sv, ov = s[c], o[c]
        # The driver hashes the TEXTUAL rendering of each cell, so an
        # int-kind vs float-kind dtype split (e.g. DuckDB sum(BIGINT) ->
        # HUGEINT -> pandas float64 rendering 974.0 against Spark's 974)
        # is a real failure even when the values are numerically equal.
        # Be exactly as strict here: integer-vs-float kind is FAIL.
        skind, okind = sv.dtype.kind, ov.dtype.kind
        if {skind, okind} & {"f"} and {skind, okind} & {"i", "u"}:
            return (f"FAIL dtype-kind col={c} spark={sv.dtype} "
                    f"oracle={ov.dtype} (driver hash would diverge: "
                    f"int vs float rendering)")
        if skind == "f" or okind == "f":
            svn = sv.astype(float).to_numpy()
            ovn = ov.astype(float).to_numpy()
            if not np.array_equal(svn, ovn, equal_nan=True):
                bad = np.flatnonzero(~((svn == ovn) | (np.isnan(svn) & np.isnan(ovn))))
                return (f"FAIL values col={c} n_bad={len(bad)} "
                        f"first: spark={svn[bad[0]]!r} oracle={ovn[bad[0]]!r}")
        else:
            svs = sv.astype(str).to_numpy()
            ovs = ov.astype(str).to_numpy()
            if not np.array_equal(svs, ovs):
                bad = np.flatnonzero(svs != ovs)
                return (f"FAIL values col={c} n_bad={len(bad)} "
                        f"first: spark={svs[bad[0]]!r} oracle={ovs[bad[0]]!r}")
    return f"OK rows={len(spdf)}"


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from osmspark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            verdict = compare(name, fn(spark, sf_dir), oracles.get(name), con)
        except Exception as e:  # noqa: BLE001
            verdict = f"ERROR {type(e).__name__}: {str(e).splitlines()[0][:200]}"
        if not verdict.startswith(("OK", "ROWS_ONLY")):
            n_fail += 1
        print(f"{name:28s} {verdict}", flush=True)
    print(f"\n{'ALL OK' if n_fail == 0 else f'{n_fail} FAILURES'}")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
