"""Output oracle: checks a committed run against the seed's inputs.

Untimed; runs after each job.  Expected text comes from the ``sources.pages``
piece specs (``pages_oracle_sql`` over the seed's documents, in DuckDB) plus
``charset_probe_expected()`` for the WARC workload, and from the large-page
composition (``inputs.large_page_expected``) for the pages workload.  The
lineage table is checked bucket by bucket against digests recomputed here,
with the bucket of each url derived by ``spark_bucket`` (Spark's
``pmod(xxhash64(url, 2024), n)``).
"""

from __future__ import annotations

import os
import zlib
from collections import defaultdict
from typing import Dict, List, Optional, Tuple

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5

BUCKET_SALT = 2024  # pipeline.lineage.with_bucket's default salt


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    return h ^ (h >> 32)


def xxh64(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` (Spark's ``XXH64.hashUnsafeBytes``), unsigned."""
    n = len(data)
    p = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while p <= n - 32:
            v1 = _round(v1, int.from_bytes(data[p : p + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[p + 8 : p + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[p + 16 : p + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[p + 24 : p + 32], "little"))
            p += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h ^= _round(0, v)
            h = (h * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while p + 8 <= n:
        h ^= _round(0, int.from_bytes(data[p : p + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        p += 8
    if p + 4 <= n:
        h ^= (int.from_bytes(data[p : p + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        p += 4
    while p < n:
        h ^= (data[p] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        p += 1
    return _fmix(h)


def _xxh64_int(value: int, seed: int) -> int:
    """Spark's ``XXH64.hashInt``: XXH64 of the int's 4 little-endian bytes."""
    return xxh64((value & 0xFFFFFFFF).to_bytes(4, "little"), seed)


def spark_bucket(url: str, n_buckets: int, salt: int = BUCKET_SALT) -> int:
    """``pmod(xxhash64(url, salt), n_buckets)`` exactly as Spark computes it
    (column hashes chain through the seed, starting at 42)."""
    h = _xxh64_int(salt, xxh64(url.encode("utf-8"), 42))
    if h >= 1 << 63:
        h -= 1 << 64
    return h % n_buckets


def _row_crc(url: str, text: Optional[str]) -> int:
    # crc32(concat_ws(" ", url, extracted_text)): a NULL text is skipped
    s = url if text is None else f"{url} {text}"
    return zlib.crc32(s.encode("utf-8"))


def expected_warc(con, docs_parquet: str) -> None:
    """Create the DuckDB view ``expected(url, text)`` for a WARC workload."""
    from dhtmlparser3_spark.sources.pages import pages_oracle_sql
    from dhtmlparser3_spark.sources.warc import charset_probe_expected

    con.execute(
        f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('{docs_parquet}')"
    )
    probes = " UNION ALL ".join(
        "SELECT ? AS url, ? AS text" for _ in charset_probe_expected()
    )
    args = [v for pair in charset_probe_expected() for v in pair]
    con.execute(
        "CREATE OR REPLACE TABLE expected AS "
        f"SELECT url, value AS text FROM ({pages_oracle_sql('', 'content_str')}) "
        f"UNION ALL {probes}",
        args,
    )


def expected_pages(con, expected_parquet: str) -> List[str]:
    """Create ``expected(url, text)`` for the large-page workload from the
    texts composed with the inputs; returns the poison urls, which must
    come back as error rows instead."""
    src = f"read_parquet('{expected_parquet}')"
    con.execute(
        f"CREATE OR REPLACE TABLE expected AS SELECT url, text FROM {src} WHERE NOT poison"
    )
    return [u for (u,) in con.execute(f"SELECT url FROM {src} WHERE poison").fetchall()]


def check(
    con,
    output_dir: str,
    lineage_dir: str,
    n_buckets: int,
    poison_urls: List[str],
) -> Tuple[List[str], Dict[str, int]]:
    """Compare the committed output and lineage with ``expected``.

    Returns (problems, counts); the run passes iff ``problems`` is empty.
    """
    problems: List[str] = []
    if not os.path.isdir(output_dir) or not os.path.isdir(lineage_dir):
        return ["no committed output or lineage"], {"clean_rows": 0, "error_rows": 0}
    con.execute(
        "CREATE OR REPLACE VIEW committed AS SELECT * FROM read_parquet("
        f"'{output_dir}/*/*.parquet', hive_partitioning = true)"
    )
    clean_n, error_n = con.execute(
        "SELECT count(*) FILTER (WHERE error IS NULL), "
        "count(*) FILTER (WHERE error IS NOT NULL) FROM committed"
    ).fetchone()
    missing = con.execute(
        "SELECT count(*) FROM (SELECT url, text FROM expected EXCEPT ALL "
        "SELECT url, extracted_text FROM committed WHERE error IS NULL)"
    ).fetchone()[0]
    extra = con.execute(
        "SELECT count(*) FROM (SELECT url, extracted_text FROM committed "
        "WHERE error IS NULL EXCEPT ALL SELECT url, text FROM expected)"
    ).fetchone()[0]
    if missing or extra:
        problems.append(
            f"extracted text: {missing} expected rows missing, {extra} unexpected"
        )
    err_rows = con.execute(
        "SELECT url, extracted_text FROM committed WHERE error IS NOT NULL"
    ).fetchall()
    if sorted(u for u, _ in err_rows) != sorted(poison_urls):
        problems.append(
            f"error rows: {len(err_rows)} committed, {len(poison_urls)} poison inputs"
        )
    if any(t is not None for _, t in err_rows):
        problems.append("an error row carries extracted text")

    # per-bucket (n, digest), recomputed from the oracle's rows
    want: Dict[int, List[int]] = defaultdict(lambda: [0, 0])
    oracle_rows = con.execute("SELECT url, text FROM expected").fetchall()
    for url, text in oracle_rows + [(u, None) for u in poison_urls]:
        acc = want[spark_bucket(url, n_buckets)]
        acc[0] += 1
        acc[1] += _row_crc(url, text)
    misplaced = sum(
        1
        for url, b in con.execute("SELECT url, bucket FROM committed").fetchall()
        if spark_bucket(url, n_buckets) != b
    )
    if misplaced:
        problems.append(f"{misplaced} rows committed under the wrong bucket")
    lineage = con.execute(
        f"SELECT bucket, n_docs, digest FROM read_parquet('{lineage_dir}/*.parquet')"
    ).fetchall()
    got = {}
    for b, n, d in lineage:
        if b in got:
            problems.append(f"bucket {b} has more than one lineage row")
        got[b] = (n, d)
    for b in range(n_buckets):
        exp = tuple(want[b]) if b in want else (0, 0)
        if got.get(b) != exp:
            problems.append(f"bucket {b}: lineage {got.get(b)} != oracle {exp}")
            break
    if set(got) - set(range(n_buckets)):
        problems.append("lineage names buckets outside the bucket range")
    return problems, {"clean_rows": clean_n, "error_rows": error_n}


def connect():
    import duckdb

    return duckdb.connect()
