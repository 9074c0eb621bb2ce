"""Output checks against DuckDB, under `scripts/check.py`'s canonical
protocol (its `canon` is imported, not copied, so both gates hash alike).

- `query_md5`: the canonical md5 of a query's `SparkEntry.oracleSql`
  oracle over the base tables, cached per (data, query) in
  `.bench_build/oracle_md5.json`.
- `raster_md5`: the plot batch's checked raster recomputed in DuckDB from
  the generated visibility parquet, binned exactly as `graft.functions.
  Axes.bin` bins (clamped floor of `(v - lo) / (hi - lo) * n`), flagged
  rows dropped.
"""
import importlib.util
import json
import os

import duckdb


def _check_module(root):
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(root, "scripts", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Oracle:
    def __init__(self, root, bench, data_dir, data_digest):
        self.check = _check_module(root)
        self.data_dir = data_dir
        self.cache_path = os.path.join(bench, "oracle_md5.json")
        with open(os.path.join(bench, "oracle_sql.json")) as f:
            self.sql = json.load(f)
        self.cache = {}
        if os.path.exists(self.cache_path):
            with open(self.cache_path) as f:
                self.cache = json.load(f)
        if self.cache.get("_data") != data_digest:
            self.cache = {"_data": data_digest}
        self._con = None

    def _connect(self):
        if self._con is None:
            self._con = duckdb.connect()
            for t in self.check.TABLES:
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                  f"read_parquet('{self.data_dir}/{t}.parquet')")
        return self._con

    def canon_md5(self, df):
        return self.check.canon(df)[0]

    def query_md5(self, name):
        if name not in self.sql:
            return None
        if name not in self.cache:
            self.cache[name] = self.canon_md5(self._connect().execute(self.sql[name]).fetchdf())
            with open(self.cache_path, "w") as f:
                json.dump(self.cache, f, indent=1, sort_keys=True)
        return self.cache[name]

    def raster_md5(self, inputs):
        """md5 of the (xb, yb, c) count raster of the checked plot."""
        (x0, x1), (y0, y1) = inputs["raster_x"], inputs["raster_y"]
        w, h = inputs["raster_w"], inputs["raster_h"]

        def binned(e, lo, hi, n):
            return (f"CAST(LEAST({float(n - 1)}, GREATEST(0.0, "
                    f"FLOOR(({e} - {lo!r}) / ({hi!r} - {lo!r}) * {n}))) AS INTEGER)")
        sql = (f"SELECT {binned('time', x0, x1, w)} AS xb, "
               f"{binned('sqrt(re*re + im*im)', y0, y1, h)} AS yb, COUNT(*) AS c "
               f"FROM read_parquet('{inputs['vis_parquet']}/*.parquet') "
               f"WHERE NOT flag GROUP BY ALL")
        return self.canon_md5(duckdb.connect().execute(sql).fetchdf())
