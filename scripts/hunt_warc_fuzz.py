"""WARC structural-corruption hunt (round 5): volume version of the CI pin
``tests/test_warc.py::test_warc_structural_fuzz_error_policy``.

Builds one clean multi-record shard per seed (records rotate every
supported wire coding: identity / gzip / chunked / gzip+chunked /
raw-deflate), then derives N corrupted shards per seed across four axes:

  1. TRUNCATION        — cut the compressed stream at a random byte;
  2. BYTE FLIP         — XOR one random compressed byte;
  3. MEMBER SPLICE     — inject garbage bytes between two gzip members;
  4. WARC-HEADER BREAK — replace one member with a valid-gzip record
                         whose WARC headers are malformed.

All shards are read back through the FULL Spark reader in one glob scan
per seed — and (gz layout) through ``read_warc_revisits`` too: each gz
shard carries two trailing revisit records, so the revisit loop fuzzes
over the same corruption axes (clean rows must be exactly the
synthesized back-reference, early members must survive, error prefixes
documented).  Violations hunted (the module's documented error policy,
sources/warc.py):

  * a task failure (any corruption crashing the scan);
  * a clean row whose html is NOT byte-identical to its source document;
  * a member strictly before the first corrupted member going missing;
  * an error row with an undocumented prefix (not gzip:/warc:/http:);
  * a warc-header error ending the file scan (it must continue).

Run:  python scripts/hunt_warc_fuzz.py  [HUNT_SEEDS=8 HUNT_FILES=64]
"""
import gzip
import os
import random
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from dhtmlparser3_spark.plans.session import get_spark
from dhtmlparser3_spark.sources.warc import (
    build_warc_record,
    read_warc,
    read_warc_revisits,
    write_warc_gz,
)

REVISIT_URL = "http://revisit.example/page"
REVISIT_DIGEST = "sha1:FUZZDIGESTFUZZDIGESTFUZZDIGESTFU"

SEEDS = int(os.environ.get("HUNT_SEEDS", "8"))
FILES = int(os.environ.get("HUNT_FILES", "64"))  # corrupted shards per seed

ENCODINGS = [
    (None, None),
    ("gzip", None),
    (None, "chunked"),
    ("gzip", "chunked"),
    ("deflate-raw", None),
]


def build_docs(rng: random.Random, n: int):
    docs = []
    for i in range(n):
        body = (
            f"<div id=d{i}>doc {i} &amp; "
            + "word " * rng.randrange(1, 40)
            + "</div>"
        ).encode()
        ce, te = ENCODINGS[i % len(ENCODINGS)]
        docs.append(
            (f"http://h{i}.example/p{i}", "2024-05-06T07:08:09Z", body, ce, te)
        )
    return docs


def corrupt(blob: bytes, offsets, rng: random.Random):
    """One corrupted shard + (must_have member idxs, warc_err expected)."""
    mode = rng.choice(["truncate", "flip", "splice", "warcbad"])
    b = bytearray(blob)
    n = len(offsets)
    if mode == "truncate":
        cut = rng.randrange(1, len(b))
        ends = offsets[1:] + [len(blob)]
        return bytes(b[:cut]), [j for j in range(n) if ends[j] <= cut], False
    if mode == "flip":
        pos = rng.randrange(len(b))
        b[pos] ^= 0xFF
        first = max(
            next((j for j, off in enumerate(offsets) if off > pos), n) - 1, 0
        )
        return bytes(b), list(range(first)), False
    if mode == "splice":
        at = rng.randrange(1, n)
        return (
            bytes(b[: offsets[at]])
            + bytes(rng.randrange(256) for _ in range(rng.randrange(1, 24)))
            + bytes(b[offsets[at]:]),
            list(range(at)),
            False,
        )
    at = rng.randrange(n)
    lo = offsets[at]
    hi = offsets[at + 1] if at + 1 < n else len(blob)
    bad = rng.choice(
        [
            b"WARC/1.0\r\nWARC-Type: response\r\n\r\nno length",
            b"NOTWARC/9\r\nContent-Length: 4\r\n\r\nxxxx",
            b"WARC/1.0\r\nContent-Length: 999999\r\n\r\nshort",
        ]
    )
    return (
        bytes(b[:lo]) + gzip.compress(bad, mtime=0) + bytes(b[hi:]),
        [j for j in range(n) if j != at],
        True,
    )


def corrupt_plain(blob: bytes, offsets, rng: random.Random):
    """Plain-layout corruption.  Boundaries derive from Content-Length
    headers (no gzip integrity layer), so every axis here breaks the
    header chain and the scan must END at the corrupted record with the
    earlier records intact.  Byte flips are NOT hunted in plain mode: a
    flip inside a record's payload legitimately changes the html bytes
    without any detectable error — inherent to the format."""
    mode = rng.choice(["truncate", "splice", "warcbad"])
    b = bytearray(blob)
    n = len(offsets)
    if mode == "truncate":
        cut = rng.randrange(1, len(b))
        # records strictly before the one containing the cut must survive
        first_bad = max(
            next((j for j, off in enumerate(offsets) if off >= cut), n) - 1, 0
        )
        return bytes(b[:cut]), list(range(first_bad)), False
    if mode == "splice":
        at = rng.randrange(1, n)
        return (
            bytes(b[: offsets[at]])
            + b"JUNK" * rng.randrange(1, 6)
            + bytes(b[offsets[at]:]),
            list(range(at)),
            False,
        )
    at = rng.randrange(n)
    lo = offsets[at]
    hi = offsets[at + 1] if at + 1 < n else len(blob)
    bad = b"WARC/1.0\r\nWARC-Type: response\r\n\r\nno length\r\n\r\n"
    # malformed header in plain mode ends the scan (boundary loss)
    return bytes(b[:lo]) + bad + bytes(b[hi:]), list(range(at)), True


def main():
    from dhtmlparser3_spark.sources.warc import write_warc_plain

    spark = get_spark(
        app_name="hunt-warc-fuzz", cpus=len(os.sched_getaffinity(0))
    )
    total_files = total_rows = total_errs = 0
    violations = []
    t0 = time.time()
    for seed in range(SEEDS):
        rng = random.Random(77000 + seed)
        docs = build_docs(rng, rng.randrange(4, 12))
        plain_layout = seed % 2 == 1  # alternate .warc.gz / plain .warc
        with tempfile.TemporaryDirectory(prefix="warcfuzz_") as td:
            if plain_layout:
                clean = os.path.join(td, "clean.warc")
                offsets = write_warc_plain(docs, clean)
            else:
                # gz layout also carries trailing revisit records so the
                # revisit reader fuzzes over the same corruptions
                revisits = [
                    build_warc_record(
                        REVISIT_URL, "2024-05-06T08:00:00Z", b"",
                        warc_type="revisit",
                        refers_to_url=REVISIT_URL,
                        refers_to_date="2024-05-06T07:08:09Z",
                        payload_digest=REVISIT_DIGEST,
                    )
                    for _ in range(2)
                ]
                clean = os.path.join(td, "clean.warc.gz")
                offsets = write_warc_gz(docs, clean, extra_members=revisits)
            blob = open(clean, "rb").read()
            os.unlink(clean)  # only corrupted shards in the glob
            expect = {}
            for i in range(FILES):
                if plain_layout:
                    data, must_have, warc_err = corrupt_plain(
                        blob, offsets, rng
                    )
                    name = f"f{i:03d}.warc"
                else:
                    data, must_have, warc_err = corrupt(blob, offsets, rng)
                    name = f"f{i:03d}.warc.gz"
                open(os.path.join(td, name), "wb").write(data)
                expect[name] = (must_have, warc_err)
            rows = read_warc(spark, td + "/*.warc*").collect()
            rvrows = (
                []
                if plain_layout
                else read_warc_revisits(spark, td + "/*.warc*").collect()
            )
            total_files += FILES
            total_rows += len(rows) + len(rvrows)
            by_file = {}
            for r in rows:
                by_file.setdefault(r.src_file.rsplit("/", 1)[-1], []).append(r)
            rv_by_file = {}
            for r in rvrows:
                rv_by_file.setdefault(
                    r.src_file.rsplit("/", 1)[-1], []
                ).append(r)
            want_html = {u: h for (u, _d, h, _ce, _te) in docs}
            for name, (must_have, warc_err) in expect.items():
                rs = by_file.get(name, [])
                ok = [r for r in rs if r.error is None]
                errs = [r for r in rs if r.error is not None]
                total_errs += len(errs)
                for r in ok:
                    if bytes(r.html) != want_html.get(r.url):
                        violations.append((seed, name, "byte-mismatch", r.url))
                clean_urls = {r.url for r in ok}
                for j in must_have:
                    if j < len(docs) and docs[j][0] not in clean_urls:
                        violations.append((seed, name, "missing-early", j))
                for r in errs:
                    if r.error.split(":")[0] not in ("gzip", "warc", "http"):
                        violations.append((seed, name, "bad-prefix", r.error))
                if warc_err and not any(
                    r.error.startswith("warc:") for r in errs
                ):
                    violations.append((seed, name, "warc-error-lost", None))
                # revisit reader over the SAME corrupted shard: clean rows
                # must be exactly the synthesized back-reference; early
                # revisit members must survive; error prefixes documented
                rvs = rv_by_file.get(name, [])
                rv_ok = [r for r in rvs if r.error is None]
                rv_errs = [r for r in rvs if r.error is not None]
                total_errs += len(rv_errs)
                for r in rv_ok:
                    if (
                        r.url != REVISIT_URL
                        or r.refers_to_url != REVISIT_URL
                        or r.payload_digest != REVISIT_DIGEST
                    ):
                        violations.append(
                            (seed, name, "revisit-mismatch", r.url)
                        )
                if not plain_layout:
                    want_rv = sum(1 for j in must_have if j >= len(docs))
                    if len(rv_ok) < want_rv:
                        violations.append(
                            (seed, name, "revisit-missing-early",
                             (len(rv_ok), want_rv))
                        )
                for r in rv_errs:
                    if r.error.split(":")[0] not in ("gzip", "warc"):
                        violations.append(
                            (seed, name, "revisit-bad-prefix", r.error)
                        )
        print(
            f"seed {seed}: {FILES} shards, cumulative rows={total_rows} "
            f"errs={total_errs} violations={len(violations)} "
            f"({time.time() - t0:.0f}s)",
            flush=True,
        )
    print(
        f"DONE: {total_files} corrupted shards, {total_rows} rows, "
        f"{total_errs} error rows, {len(violations)} violations"
    )
    for v in violations[:20]:
        print("VIOLATION:", v)
    spark.stop()
    sys.exit(1 if violations else 0)


if __name__ == "__main__":
    main()
