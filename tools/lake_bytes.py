"""Where a lake table's stored bytes go, from its live files' footers.

Reads only the parquet footers of the files in the table's current
snapshot (no data pages, no Spark session) and prints the file count
(delta files among them), footer bytes, codecs, and compressed and
uncompressed bytes per column, in total and per row. Then, per commit
directory that still holds live files, the file count and the min, median
and max bytes per file: the write layout at a glance.

Usage: python tools/lake_bytes.py <table root>
"""

from __future__ import annotations

import os
import statistics
import sys
from collections import Counter, defaultdict

import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from translator_ingests_spark.lake.table import LakeTable  # noqa: E402


def footer_summary(paths: list[str]) -> dict:
    """Sum the footers of ``paths``: rows, footer and file bytes, codec
    counts over column chunks, and [compressed, uncompressed] per column."""
    rows = footer = file_bytes = 0
    codecs: Counter = Counter()
    cols: dict[str, list[int]] = defaultdict(lambda: [0, 0])
    for path in paths:
        md = pq.read_metadata(path)
        rows += md.num_rows
        footer += md.serialized_size
        file_bytes += os.path.getsize(path)
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in range(rg.num_columns):
                cc = rg.column(c)
                codecs[cc.compression] += 1
                acc = cols[cc.path_in_schema]
                acc[0] += cc.total_compressed_size
                acc[1] += cc.total_uncompressed_size
    return {"rows": rows, "footer_bytes": footer, "file_bytes": file_bytes,
            "codecs": dict(codecs), "columns": dict(cols)}


def files_per_commit(files: list[dict]) -> dict[str, tuple[int, list[int]]]:
    """Commit directory -> (delta files, sorted file sizes) over ``files``."""
    out: dict[str, tuple[int, list[int]]] = {}
    for f in files:
        d = os.path.basename(os.path.dirname(f["path"]))
        n_delta, sizes = out.get(d, (0, []))
        out[d] = (n_delta + bool(f.get("delta")), sizes + [os.path.getsize(f["path"])])
    return {d: (n, sorted(s)) for d, (n, s) in sorted(out.items())}


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        return 2
    snap = LakeTable(None, argv[0]).current()
    paths = [f["path"] for f in snap.files]
    s = footer_summary(paths)
    rows = s["rows"]

    def per_row(b: int) -> float:
        return b / rows if rows else 0.0

    print(f"snapshot {snap.version}: {len(paths)} files "
          f"({sum(1 for f in snap.files if f.get('delta'))} delta), "
          f"{rows} rows, {s['file_bytes']} file bytes")
    print(f"footers: {s['footer_bytes']} bytes "
          f"({per_row(s['footer_bytes']):.1f} B/row)")
    print("codecs (column chunks): "
          + ", ".join(f"{k} x{v}" for k, v in sorted(s["codecs"].items())))
    print(f"{'column':<24}{'compressed':>14}{'uncompressed':>14}"
          f"{'B/row':>9}{'raw B/row':>11}")
    total = [0, 0]
    for name, (comp, raw) in sorted(s["columns"].items(),
                                    key=lambda kv: -kv[1][0]):
        total[0] += comp
        total[1] += raw
        print(f"{name:<24}{comp:>14}{raw:>14}"
              f"{per_row(comp):>9.1f}{per_row(raw):>11.1f}")
    print(f"{'(all columns)':<24}{total[0]:>14}{total[1]:>14}"
          f"{per_row(total[0]):>9.1f}{per_row(total[1]):>11.1f}")
    print(f"{'commit dir':<32}{'files':>6}{'delta':>6}"
          f"{'min B':>10}{'median B':>10}{'max B':>10}")
    for d, (n_delta, sizes) in files_per_commit(list(snap.files)).items():
        print(f"{d:<32}{len(sizes):>6}{n_delta:>6}{sizes[0]:>10}"
              f"{int(statistics.median(sizes)):>10}{sizes[-1]:>10}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
