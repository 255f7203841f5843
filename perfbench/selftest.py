"""Self-test of the seeded input generator (no Spark needed):

    python3 perfbench/selftest.py

Checks that one seed gives byte-identical inputs across two generations,
that different seeds give different inputs, that the corpus does not
depend on the seed, and that the operation sequence keeps its mix."""

from __future__ import annotations

import sys

import inputs


def all_inputs(seed: int) -> dict:
    return {
        "selfjoin": inputs.selfjoin_inputs(seed),
        "interactive": inputs.interactive_inputs(seed),
        "knn": inputs.knn_inputs(seed),
        "check": inputs.check_sample(seed, list(range(100)), 10, "selftest"),
    }


def main() -> int:
    failures = []
    for seed in (0, 1, 12345):
        if inputs.fingerprint(all_inputs(seed)) != inputs.fingerprint(all_inputs(seed)):
            failures.append(f"seed {seed}: two generations differ")
    a, b = all_inputs(1), all_inputs(2)
    for key in a:
        if inputs.fingerprint(a[key]) == inputs.fingerprint(b[key]):
            failures.append(f"{key}: seeds 1 and 2 give identical inputs")
    for scale in inputs.CORPORA:
        d1, d2 = inputs.documents(scale), inputs.documents(scale)
        if not d1.equals(d2):
            failures.append(f"corpus {scale} is not reproducible")
    ops = a["interactive"]["ops"]
    block = len(inputs.BLOCK)
    for s in range(0, len(ops) - block + 1, block):
        kinds = sorted(op["kind"] for op in ops[s : s + block])
        appends = sum(k == "append" for k in kinds)
        if len(kinds) - appends - kinds.count("range") != inputs.BLOCK.count("knn"):
            failures.append(f"interactive block at {s} breaks the mix: {kinds}")
            break
    print("\n".join(failures) or "selftest ok: inputs are seed-deterministic")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
