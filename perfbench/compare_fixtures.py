"""Check that ``fixtures.py`` rebuilds the shared fixture tables exactly.

    python3 perfbench/compare_fixtures.py REF_ROOT [--out FILE]

``REF_ROOT`` holds one ``sf<scale>/`` directory per scale (``sf0.1/`` and
so on) with the ten ``<table>.parquet`` files. For every scale found, each
generated table is written to parquet in memory and read back, then
compared with the reference: row count, the parquet physical schema of
each column (types, timestamp unit), the file layout (row groups, and
each column's compression and encodings) and every value. The files
differ only in the ``pandas`` schema metadata the reference carries,
which Spark does not read. Exits non-zero on
any difference; ``--out`` writes the per-table report as JSON.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import fixtures  # noqa: E402


def _roundtrip(table: pa.Table) -> pq.ParquetFile:
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf)
    return pq.ParquetFile(pa.BufferReader(buf.getvalue()))


def _columns(pf: pq.ParquetFile) -> dict[str, str]:
    """Column path -> physical and logical type, as the parquet file stores them."""
    return {
        c.path: f"{c.physical_type} {c.logical_type}"
        for c in (pf.schema.column(i) for i in range(len(pf.schema)))
    }


def _layout(pf: pq.ParquetFile) -> list:
    """Row groups, and each column chunk's compression and encodings."""
    md = pf.metadata
    return [
        [(c.compression, sorted(c.encodings)) for c in
         (md.row_group(g).column(i) for i in range(md.num_columns))]
        for g in range(md.num_row_groups)
    ]


def compare_table(ref_path: str, generated: pa.Table) -> dict:
    ref_pf = pq.ParquetFile(ref_path)
    gen_pf = _roundtrip(generated)
    ref, gen = ref_pf.read(), gen_pf.read()
    report = {
        "rows": [ref.num_rows, gen.num_rows],
        "physical_types_equal": _columns(ref_pf) == _columns(gen_pf),
        "layout_equal": _layout(ref_pf) == _layout(gen_pf),
        "columns_differing": [],
    }
    if ref.column_names != gen.column_names or ref.num_rows != gen.num_rows:
        report["columns_differing"] = ["<names or row count>"]
        return report
    for name in ref.column_names:
        if not ref[name].combine_chunks().equals(gen[name].combine_chunks()):
            report["columns_differing"].append(name)
    return report


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("ref_root")
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    result, ok = {}, True
    scale_dirs = sorted(glob.glob(os.path.join(args.ref_root, "sf*")))
    if not scale_dirs:
        print(f"no sf* directories under {args.ref_root}", file=sys.stderr)
        return 2
    for scale_dir in scale_dirs:
        sf = os.path.basename(scale_dir)
        tables = fixtures.build_tables(float(sf[2:]))
        result[sf] = {}
        for name in fixtures.TABLES:
            rep = compare_table(os.path.join(scale_dir, f"{name}.parquet"), tables[name])
            result[sf][name] = rep
            same = (rep["rows"][0] == rep["rows"][1] and rep["physical_types_equal"]
                    and rep["layout_equal"] and not rep["columns_differing"])
            ok &= same
            print(f"{sf} {name}: rows {rep['rows'][0]} "
                  f"{'identical' if same else 'DIFFERS: ' + json.dumps(rep)}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"identical": ok, "scales": result}, f, indent=1, sort_keys=True)
            f.write("\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
