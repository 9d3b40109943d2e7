"""Correctness check: every pass's outputs against an independent DuckDB replay.

The comparison follows tools/compare.py's exactness rules: the same column
names, the same physical type per column, and the same multiset of rows,
with floats compared by bit pattern and nothing normalised.
"""
import glob
import math
import os
import struct

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# The etl_backfill replay: graft's q112 oracle generalised from `part`
# arithmetic to the generator's recorded winners, per-date fx rates and
# trend scores. It never sees the raw JSON, the duplicates or the gate.
ETL_MART_SQL = """
SELECT s.date, CAST(s.pk AS VARCHAR) AS product_id,
  'Product ' || CAST(s.pk AS VARCHAR) AS product_name,
  'slug-' || CAST(s.leaf AS VARCHAR) AS category_name,
  CAST(s.current_price AS DOUBLE) AS price_vnd_real,
  CAST(s.original_price AS DOUBLE) AS price_vnd_list,
  CAST(s.discount_rate AS DOUBLE) AS discount_percentage,
  ((2 * 100 * (s.current_price * 100) + fx.r100) // (2 * fx.r100)) / 100.0 AS price_usd_real,
  CAST(fx.r100 AS DOUBLE) / 100.0 AS fx_rate,
  k.trend_keyword,
  CAST(t.score AS BIGINT) AS google_trend_score,
  CASE WHEN k.trend_keyword IS NULL THEN 'Unmapped'
       WHEN t.score IS NULL THEN 'No Trend Data'
       ELSE 'Full Data' END AS trend_signal_status
FROM snapshots s
JOIN fx USING (date)
LEFT JOIN keywords k ON k.tiki_category_id = s.leaf AND k.is_active
LEFT JOIN trends t ON t.keyword = k.trend_keyword AND t.date = s.date
"""


def typed(v):
    """Exact value representation: no cross-type unification."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        return "f:nan" if math.isnan(v) else "f:" + struct.pack("<d", v).hex()
    if isinstance(v, int):
        return f"i:{v}"
    return f"{type(v).__name__}:{v}"


def canonical(t, cols):
    """`t`'s columns `cols` with every float replaced by its bit pattern
    (one pattern for all NaNs) and large strings made plain, sorted by
    all columns: two tables hold the same rows exactly when their
    canonical forms are equal.
    """
    out = []
    for c in cols:
        col = t.column(c).combine_chunks()
        if pa.types.is_floating(col.type):
            bits = pa.int64() if col.type.bit_width == 64 else pa.int32()
            vals = col.to_numpy(zero_copy_only=False)
            nan = np.array([np.nan], vals.dtype).view(bits.to_pandas_dtype())[0]
            ints = np.where(np.isnan(vals), nan, vals.view(bits.to_pandas_dtype()))
            col = pa.array(ints, bits, mask=col.is_null().to_numpy(zero_copy_only=False))
        elif pa.types.is_large_string(col.type):
            col = col.cast(pa.string())
        out.append(col)
    canon = pa.table(out, names=list(cols))
    return canon.take(pc.sort_indices(canon, [(c, "ascending") for c in cols]))


def diff(want, got):
    """None when the two arrow tables hold the same rows, else why not."""
    wcols, gcols = sorted(want.column_names), sorted(got.column_names)
    if wcols != gcols:
        return f"columns differ: replay={wcols} program={gcols}"
    for c in wcols:
        wt, gt = want.schema.field(c).type, got.schema.field(c).type
        if str(wt).replace("large_", "") != str(gt).replace("large_", ""):
            return f"type of {c} differs: replay={wt} program={gt}"
    if want.num_rows != got.num_rows:
        return f"row count differs: replay={want.num_rows} program={got.num_rows}"
    try:
        if canonical(want, wcols).equals(canonical(got, wcols)):
            return None
    except pa.ArrowNotImplementedError:  # a column type that cannot be sorted
        pass

    def rows(t):
        data = [t.column(c).to_pylist() for c in wcols]
        return sorted(tuple(typed(col[i]) for col in data) for i in range(t.num_rows))

    for a, b in zip(rows(want), rows(got)):
        if a != b:
            return f"first differing row: replay={a} program={b}"
    return None


def read_output(path):
    """A written Spark output directory (hidden and marker files skipped)."""
    files = sorted(f for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
                   if not os.path.basename(f).startswith(("_", ".")))
    if not files:
        raise FileNotFoundError(f"no parquet output under {path}")
    return pq.ParquetDataset(files).read() if len(files) > 1 else pq.read_table(files[0])


def _connect():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads TO 4")
    return con


def expected(workload, inputs, oracles, k):
    """Replay pass `k`'s outputs in DuckDB: {output name: arrow table}.

    Both workloads grow one state, so pass k's outputs cover inputs 0..k.
    """
    con = _connect()
    if workload == "etl_backfill":
        for t in ("fx", "trends"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/truth/{t}.parquet'")
        con.execute(f"CREATE VIEW snapshots AS SELECT * FROM '{inputs}/truth/snapshots.parquet' "
                    f"WHERE date <= (SELECT date FROM fx ORDER BY date LIMIT 1 OFFSET {k})")
        con.execute(f"CREATE VIEW keywords AS SELECT * FROM '{inputs}/keywords.parquet'")
        return {"mart": con.execute(ETL_MART_SQL).arrow()}
    # media_incremental
    con.execute(f"CREATE VIEW documents AS SELECT c.* FROM '{inputs}/documents.parquet' c "
                f"JOIN '{inputs}/deltas.parquet' d USING (doc_id) WHERE d.delta <= {k}")
    return {"clusters": con.execute(oracles["clusters"]).arrow()}


def check_pass(result_dir, want):
    """Mismatch messages for one pass's outputs (empty when all match)."""
    problems = []
    for name, table in want.items():
        try:
            path = os.path.join(result_dir, name)
            why = diff(table, read_output(path))
        except Exception as e:  # a missing or unreadable output is a mismatch
            why = f"{type(e).__name__}: {e}"
        if why:
            problems.append(f"{name}: {why}")
    return problems
