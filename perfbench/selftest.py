"""Shows that the benchmark's output checks catch wrong output.

    python3 perfbench/selftest.py

On small seeded inputs it runs each workload once, requires its check to
pass, then corrupts the output and requires the check to fail:

* warc_dedup: one manifest line gets a wrong ``copy_no``;
* frontier_crawl: two rounds' schedules swap places.

Exits 0 only if every check behaves.
"""

from __future__ import annotations

import glob
import os
import sys

import run


def _corrupt_copy_no(out: str) -> None:
    part = next(p for p in sorted(glob.glob(os.path.join(out, "part-*"))) if os.path.getsize(p))
    with open(part, encoding="utf-8") as f:
        lines = f.read().splitlines()
    fields = lines[0].split(" ")
    fields[7] = str(int(fields[7]) + 1)  # warcfile offset length uri date digest ext copy_no ...
    lines[0] = " ".join(fields)
    with open(part, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")


def _swap_rounds(out: str, a: int, b: int) -> None:
    pa, pb = (os.path.join(out, f"scheduled_round_{r:06d}") for r in (a, b))
    os.rename(pa, pa + ".tmp")
    os.rename(pb, pa)
    os.rename(pa + ".tmp", pb)


def main() -> int:
    sys.path.insert(0, run.ROOT)
    run._environment()
    import workloads as w
    from warcsum_spark.session import get_spark

    warc = w.prepare_warc(run.WORK, 0, n_archives=4, n_members=60)
    crawl = w.prepare_crawl(run.WORK, 0, n_hosts=40, n_pages=600, n_seeds=40)
    spark = get_spark(
        cores=2, app_name="perfbench-selftest",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    results = {}
    try:
        out = os.path.join(run.WORK, "selftest", "warc")
        w.warc_op(spark, warc, out)
        results["warc_dedup clean output passes"] = w.check_warc(out, warc)
        _corrupt_copy_no(out)
        results["warc_dedup wrong copy_no is flagged"] = not w.check_warc(out, warc)

        out = os.path.join(run.WORK, "selftest", "crawl")
        w.crawl_op(spark, crawl, out)
        results["frontier_crawl clean output passes"] = w.check_crawl(out, crawl)
        _swap_rounds(out, 0, 1)
        results["frontier_crawl swapped rounds are flagged"] = not w.check_crawl(out, crawl)
    finally:
        run.shut_down(spark)
    for what, ok in results.items():
        print(f"{'ok  ' if ok else 'FAIL'} {what}")
    return 0 if all(results.values()) else 1


if __name__ == "__main__":
    run.become_subreaper()
    try:
        code = main()
    finally:
        run.reap_children()
    sys.exit(code)
