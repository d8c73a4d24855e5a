"""Self-checks of the benchmark code.

1. The generator is deterministic: the same (workload, seed) gives
   byte-identical inputs, and another seed gives different ones.
2. The oracle accepts what the engine publishes and rejects a
   deliberately corrupted index: a changed aggregate, a lost document,
   a duplicated document and a wrong injected ancestor id.

Usage: ``python3 perfbench/selfcheck.py`` from the root of a checkout
(about a minute: it runs the ETL once).  Exits non-zero on a failure.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
from oracle import Oracle, current_version  # noqa: E402

WORK = os.path.join(gen.WORK_DIR, "selfcheck")


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            h.update(name.encode())
            with open(os.path.join(dirpath, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def check_deterministic() -> list[str]:
    failures = []
    for workload in gen.WORKLOADS:
        a = _digest(gen.generate(workload, 7, root=os.path.join(WORK, "a")))
        b = _digest(gen.generate(workload, 7, root=os.path.join(WORK, "b")))
        c = _digest(gen.generate(workload, 8, root=os.path.join(WORK, "a")))
        if a != b:
            failures.append(f"{workload}: seed 7 generated different inputs twice")
        if a == c:
            failures.append(f"{workload}: seeds 7 and 8 generated identical inputs")
    return failures


def _republish(oracle: Oracle, out_dir: str, index: str, select: str) -> None:
    """Write ``select`` over the current version as a new version and
    point the index's manifest at it, as the versioned sink would."""
    src = current_version(out_dir, index)
    dst = os.path.join(out_dir, f"{index}_v99")
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    rel = f"read_parquet('{src}/*.parquet')"
    oracle.con.execute(
        f"copy ({select.format(src=rel)}) to '{dst}/part-00000.parquet' (format parquet)")
    path = os.path.join(out_dir, f"{index}.manifest.json")
    with open(path) as f:
        m = json.load(f)
    m["current"] = 99
    with open(path, "w") as f:
        json.dump(m, f)


CORRUPTIONS = {
    "changed aggregate": ("subject",
                          "select * replace (reads_bytes + 1 as reads_bytes) from {src}"),
    "lost document": ("subject",
                      "select * from {src} where node_id <> (select min(node_id) from {src})"),
    "duplicated document": ("file",
                            "select * from {src} union all "
                            "(select * from {src} order by _doc_id limit 1)"),
    "wrong injected id": ("file",
                          "select * replace (case when _doc_id = (select min(_doc_id) "
                          "from {src}) then 'x' else participant_id end as participant_id) "
                          "from {src}"),
}


def check_oracle_rejects() -> list[str]:
    import run

    inputs = gen.generate("commons_full", 7, root=os.path.join(WORK, "a"))
    out_dir = os.path.join(WORK, "indexes")
    shutil.rmtree(out_dir, ignore_errors=True)
    box = run.machine()
    os.environ["SPARK_GRAFT_CPUS"] = str(box["nproc"])
    os.environ["SPARK_GRAFT_MEM"] = f"{box['heap_gib']}g"
    program = run.Program(inputs, out_dir, 7, run.spark_conf(None))
    oracle = Oracle(inputs)
    failures = []
    try:
        program.setup()
        _, rc = program.etl()
        if rc != 0:
            return [f"run.main returned {rc}"]
        clean = oracle.check(out_dir)
        if clean:
            failures.append(f"oracle rejected the engine's own output: {clean}")
        pristine = os.path.join(WORK, "pristine")
        shutil.rmtree(pristine, ignore_errors=True)
        shutil.copytree(out_dir, pristine)
        for name, (index, select) in CORRUPTIONS.items():
            shutil.rmtree(out_dir)
            shutil.copytree(pristine, out_dir)
            _republish(oracle, out_dir, index, select)
            if not oracle.check(out_dir):
                failures.append(f"oracle accepted a corrupted index ({name})")
    finally:
        program.stop()
        oracle.close()
    return failures


def main() -> int:
    shutil.rmtree(WORK, ignore_errors=True)
    failures = check_deterministic() + check_oracle_rejects()
    shutil.rmtree(WORK, ignore_errors=True)
    for f in failures:
        print(f"FAIL {f}")
    print("selfcheck:", "FAILED" if failures else "ok")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
