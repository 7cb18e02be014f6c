"""Self-test of the benchmark itself, at the smallest run length.

    python3 perfbench/selftest.py

Checks that one seed reproduces byte-identical inputs and another seed
does not; that an untraced and a traced run each print exactly the
result keys and every metric BENCHMARK.json names, with its unit, with
all outputs correct; and that the runner refuses to run, printing no
result, in a copy holding only BENCHMARK.json and perfbench/.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(cwd: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "clean", "--seed", "7",
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def main() -> int:
    sys.path.insert(0, HERE)
    import gen

    failures = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what)
        if not ok:
            failures.append(what)

    a, b, c = gen.make_inputs(7, True), gen.make_inputs(7, True), gen.make_inputs(8, True)
    expect(a.digest() == b.digest(), "one seed gives byte-identical inputs")
    expect(a.digest() != c.digest(), "another seed gives other inputs")
    expect(a.poison_rows == len(gen.POISON_BATCHES) * gen.POISON_PER_BATCH, "poison rows planted")
    expect(gen.make_inputs(7, False).poison_rows == 0, "clean inputs carry no poison")
    expect(
        all(gen.encode(gen.EVENT_SCHEMA, e) == gen.encode_event(e) for e in a.kafka_events[:2000]),
        "the Event fast path encodes like the generic encoder",
    )

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        p = _run(ROOT, trace)
        expect(p.returncode == 0, f"--trace {trace} exits 0")
        lines = p.stdout.strip().splitlines()
        try:
            result = json.loads(lines[-1])
        except (IndexError, ValueError):
            expect(False, f"--trace {trace} prints a JSON last line")
            print(p.stderr[-3000:], file=sys.stderr)
            continue
        expect(sorted(result) == ["attempted", "correct", "failed", "metrics"], f"--trace {trace} result keys")
        expect(result["correct"] is True and result["failed"] == 0, f"--trace {trace} outputs correct")
        expect(result["attempted"] >= 1, f"--trace {trace} attempted >= 1")
        want = {m["name"]: m["unit"] for m in bench[key]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        expect(got == want, f"--trace {trace} emits every {key} metric with its unit")
        expect(
            all(isinstance(v["value"], (int, float)) for v in result["metrics"].values()),
            f"--trace {trace} values are numbers",
        )

    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = _run(bare, 0)
        expect(p.returncode != 0 and not p.stdout.strip(), "refuses to run without the library")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    print("selftest:", "FAILED" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
