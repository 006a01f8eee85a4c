"""Interleaved A/B of the session-memoized minhash pair relation
(VERDICT r6 item 1).

Compares, in ONE session with paired interleaved samples (the bench.py
noise protocol), the two consumers of the minhash index:

  cold — MYCARELY_SESSION_MEMO=0: every invocation rebuilds
         signatures → bands → candidates → verify (the r6 shape, plus
         an eager localCheckpoint of the result);
  warm — memo enabled: the first invocation per mode-switch builds and
         checkpoints, subsequent invocations consume the checkpointed
         pair relation without re-expansion.

The warm column is the deployment shape (index built once per corpus
snapshot, consumed by every downstream query); the cold column proves
the build path itself did not regress. Between warm rounds the memo is
left intact; before each cold sample the memo is dropped so the cold
timing never accidentally reads warm blocks.

Usage: python scripts/ab_minhash.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

NAMES = ["dedup_minhash_lsh", "training_mix_pipeline"]
N_ROUNDS = 5


def _drop_memo() -> None:
    from mycarely_saas_dbt_spark import util

    for k in list(util._MEMO):
        df = util._MEMO.pop(k)
        try:
            df.unpersist()
        except Exception:
            pass


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from mycarely_saas_dbt_spark import measure

    spark, qs = measure.boot("ab_minhash", sf_dir)

    def prime() -> None:
        measure.force(qs["dedup_minhash_lsh"](spark, sf_dir))

    samples: dict[tuple[str, str], list[float]] = {}
    # prime the warm memo once outside the timed region so every "warm"
    # sample measures steady-state consumption, not the first build
    with measure.setenv("MYCARELY_SESSION_MEMO", "1"):
        prime()
    for rnd in range(N_ROUNDS):
        for name in NAMES:
            # cold sample: memo disabled AND dropped, full rebuild
            with measure.setenv("MYCARELY_SESSION_MEMO", "0"):
                _drop_memo()
                wall, _ = measure.time_entry(qs[name], spark, sf_dir)
                samples.setdefault((name, "cold"), []).append(wall)
            # re-prime OUTSIDE the timed region (the cold run dropped the
            # memo), then take the steady-state warm sample
            with measure.setenv("MYCARELY_SESSION_MEMO", "1"):
                prime()
                wall, _ = measure.time_entry(qs[name], spark, sf_dir)
                samples.setdefault((name, "warm"), []).append(wall)
        print(f"--- round {rnd + 1}/{N_ROUNDS}", flush=True)

    for name in NAMES:
        for mode in ("cold", "warm"):
            lo, med, spread = measure.summarize(samples[(name, mode)])
            print(
                f"{name:24s} {mode}: min={lo:.2f}s median={med:.2f}s "
                f"spread={[round(x, 2) for x in spread]}"
            )
        deltas = [
            c - w
            for c, w in zip(samples[(name, "cold")], samples[(name, "warm")])
        ]
        print(
            f"{name:24s} paired cold-warm deltas: "
            f"{[round(d, 2) for d in deltas]}"
        )


if __name__ == "__main__":
    main()
