"""WET/WAT structural-corruption hunt: the WARC hunt's axes pointed at the
other two artifact readers (sources/wet.py, sources/wat.py).

Both readers are calls of ``scan_record_files`` (layout detection,
member iteration, the one member loop with its error policy, batching)
with their own WARC-Type and per-record row function, so this hunt pins
what the sharing does NOT guarantee by construction: the row functions'
error rows (WAT's ``wat:``), the WARC-Type skip contracts, and survival
of clean records around a corruption.  Axes reused from hunt_warc_fuzz
(per-record-gzip layout):

  truncate / byte-flip / inter-member splice / WARC-header break

Violations hunted:

  * task failure;
  * a clean WET row whose text ≠ its source text, or a clean WAT row
    whose (title, links) ≠ its source metadata;
  * a record strictly before the first corrupted member going missing;
  * an error row with an undocumented prefix
    (WET: gzip:/warc:; WAT: gzip:/warc:/wat:).

Run:  python scripts/hunt_artifact_fuzz.py  [HUNT_SEEDS=6 HUNT_FILES=50]
"""
import gzip
import os
import random
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from dhtmlparser3_spark.plans.session import get_spark
from dhtmlparser3_spark.sources.wat import (
    _envelope_json,
    build_wat_record,
    read_wat,
)
from dhtmlparser3_spark.sources.wet import build_wet_record, read_wet

from hunt_warc_fuzz import corrupt  # same gzip-layout corruption axes

SEEDS = int(os.environ.get("HUNT_SEEDS", "6"))
FILES = int(os.environ.get("HUNT_FILES", "50"))


def build_wet_shard(rng: random.Random, n: int):
    """(blob, offsets, {url: text}) — a clean multi-record WET shard."""
    out, offsets, want = [], [], {}
    pos = 0
    for i in range(n):
        url = f"http://w{i}.example/t{i}"
        text = f"doc {i} ✓ " + "token " * rng.randrange(1, 30)
        m = gzip.compress(
            build_wet_record(url, "2024-05-06T07:08:09Z", text.encode()),
            mtime=0,
        )
        offsets.append(pos)
        pos += len(m)
        out.append(m)
        want[url] = text
    return b"".join(out), offsets, want


def build_wat_shard(rng: random.Random, n: int):
    """(blob, offsets, {url: (title, links)}) — a clean WAT shard."""
    out, offsets, want = [], [], {}
    pos = 0
    for i in range(n):
        url = f"http://w{i}.example/m{i}"
        title = f"Title {i}" if i % 3 else None
        links = [
            {"url": f"/l{j}", "text": f"anchor {j}"}
            for j in range(rng.randrange(0, 5))
        ]
        date = "2024-05-06T07:08:09Z"
        m = gzip.compress(
            build_wat_record(url, date, _envelope_json(url, date, title, links)),
            mtime=0,
        )
        offsets.append(pos)
        pos += len(m)
        out.append(m)
        want[url] = (title, [(l["url"], l["text"]) for l in links])
    return b"".join(out), offsets, want


def hunt(spark, kind: str):
    total_files = total_rows = total_errs = 0
    violations = []
    t0 = time.time()
    ok_prefixes = ("gzip", "warc") if kind == "wet" else ("gzip", "warc", "wat")
    for seed in range(SEEDS):
        rng = random.Random(88000 + seed)
        n = rng.randrange(4, 12)
        if kind == "wet":
            blob, offsets, want = build_wet_shard(rng, n)
        else:
            blob, offsets, want = build_wat_shard(rng, n)
        urls = list(want)
        with tempfile.TemporaryDirectory(prefix=f"{kind}fuzz_") as td:
            expect = {}
            for i in range(FILES):
                data, must_have, _warc_err = corrupt(blob, offsets, rng)
                name = f"f{i:03d}.warc.{kind}.gz"
                open(os.path.join(td, name), "wb").write(data)
                expect[name] = must_have
            reader = read_wet if kind == "wet" else read_wat
            rows = reader(spark, td + f"/*.{kind}.gz").collect()
            total_files += FILES
            total_rows += len(rows)
            by_file = {}
            for r in rows:
                by_file.setdefault(r.src_file.rsplit("/", 1)[-1], []).append(r)
            for name, must_have in expect.items():
                rs = by_file.get(name, [])
                ok = [r for r in rs if r.error is None]
                errs = [r for r in rs if r.error is not None]
                total_errs += len(errs)
                for r in ok:
                    if kind == "wet":
                        good = r.text == want.get(r.url)
                    else:
                        good = (
                            r.title,
                            [(l.url, l.text) for l in (r.links or [])],
                        ) == want.get(r.url)
                    if not good:
                        violations.append((kind, seed, name, "mismatch", r.url))
                clean_urls = {r.url for r in ok}
                for j in must_have:
                    if urls[j] not in clean_urls:
                        violations.append((kind, seed, name, "missing-early", j))
                for r in errs:
                    if r.error.split(":")[0] not in ok_prefixes:
                        violations.append((kind, seed, name, "bad-prefix", r.error))
        print(
            f"{kind} seed {seed}: {FILES} shards, cumulative rows={total_rows} "
            f"errs={total_errs} violations={len(violations)} "
            f"({time.time() - t0:.0f}s)",
            flush=True,
        )
    return total_files, total_rows, total_errs, violations


def main():
    spark = get_spark(
        app_name="hunt-artifact-fuzz", cpus=len(os.sched_getaffinity(0))
    )
    grand = []
    for kind in ("wet", "wat"):
        files, rows, errs, violations = hunt(spark, kind)
        grand.extend(violations)
        print(
            f"{kind.upper()} DONE: {files} corrupted shards, {rows} rows, "
            f"{errs} error rows, {len(violations)} violations"
        )
    for v in grand[:20]:
        print("VIOLATION:", v)
    spark.stop()
    sys.exit(1 if grand else 0)


if __name__ == "__main__":
    main()
