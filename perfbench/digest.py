"""Canonical result digests: a hash of the rows tools/compare.py's own
canon() produces (columns sorted by name, values rendered, rows sorted),
so the benchmark's output check canonicalises exactly as the oracle
comparison does."""
import glob
import hashlib
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from compare import canon  # noqa: E402


def digest(df):
    rows = canon(df)
    h = hashlib.sha256()
    h.update("\x1f".join(sorted(df.columns)).encode())
    for r in rows:
        h.update(b"\n")
        h.update("\x1f".join(r).encode())
    return f"{len(rows)}:{h.hexdigest()[:32]}"


def parquet_digest(con, result_dir):
    """Digest of the parquet files Spark wrote under result_dir."""
    files = sorted(glob.glob(f"{result_dir}/*.parquet"))
    if not files:
        # an empty result still writes a schema-only part file; no file
        # at all means the write never happened
        raise FileNotFoundError(f"no parquet under {result_dir}")
    return digest(con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf())
