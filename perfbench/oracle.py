#!/usr/bin/env python3
"""Write board_oracle.tsv: for each board query, the row count and
order-independent digest of DuckDB's answer to the query's `oracleSql`
over the board's data set. The data set does not depend on the seed,
so this runs once and the file is committed; rerun it only when the
query list, the data generator or an oracle SQL changes.

    python3 perfbench/oracle.py

It writes the tables with graft.DataGen (perfbench.Main --workload
board-data), then digests each answer exactly as Digest.scala does.
"""
import datetime
import decimal
import hashlib
import math
import shutil
import struct
import subprocess
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def value(v) -> str:
    """Digest.value, for DuckDB's Python values."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if not math.isinf(v) and v == math.floor(v) and abs(v) < 9.007199254740992e15:
            return str(int(v))
        return format(int.from_bytes(struct.pack(">d", v), "big"), "x")
    if isinstance(v, decimal.Decimal):
        return "0" if v == 0 else format(v.normalize(), "f")
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        d = v - EPOCH
        return str((d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(value(x) for x in v.values()) + "}"
    return str(v)


def digest(columns: list, rows: list) -> tuple:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        line = "\x1f".join(value(r[i]) for i in order)
        total += int.from_bytes(hashlib.sha256(line.encode()).digest()[:8], "big")
    return len(rows), format(total % (1 << 64), "x")


def main() -> int:
    classes = build.ensure()
    work = build.OUT / "oracle"
    cmd = run.jvm_command(classes, work, ["--workload", "board-data"])
    subprocess.run(cmd, cwd=work, check=True)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{work}/board/{t}.parquet/*.parquet'")
    lines = [f"# query\trows\tdigest (perfbench/oracle.py, DuckDB {duckdb.__version__})"]
    for line in (work / "oracle_sql.tsv").read_text().splitlines():
        name, sql = line.split("\t", 1)
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        n, dg = digest(cols, cur.fetchall())
        lines.append(f"{name}\t{n}\t{dg}")
        print(f"{name}: {n} rows", file=sys.stderr)
    (build.BENCH / "board_oracle.tsv").write_text("\n".join(lines) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
