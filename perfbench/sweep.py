"""``registry_sweep`` workload: a frozen subset of the query registry.

One pass runs every key of ``keys.json["sweep"]`` once, in an order
shuffled from the seed, each key built (``spec.fn(spark, sf_dir)``)
and then forced with a noop write — the ``bench.py`` protocol.  Each
timed pass reads its own copy of the inputs (same sizes, other
values), so nothing a key caches between calls can stand in for
work.
"""

from __future__ import annotations

import json
import os
import random
import sys

from spans import Tracer, hygiene, plan_fingerprint

HERE = os.path.dirname(os.path.abspath(__file__))


def key_lists() -> dict:
    with open(os.path.join(HERE, "keys.json")) as f:
        return json.load(f)


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class RegistrySweep:
    name = "registry_sweep"

    def __init__(self, spark, seed: int, data_dirs: list[str], tracer: Tracer) -> None:
        from downloader_spark.plans.registry import registry

        self.spark = spark
        self.reg = registry()
        lists = key_lists()
        self.key_class = {k: c for c, ks in lists["sweep"].items() for k in ks}
        self.basket = lists["setup"]
        self.keys = sorted(self.key_class)
        self.rng = random.Random(seed)
        self.data_dirs = data_dirs
        self.tracer = tracer
        self.min_passes = 3  # per-key medians need three samples
        self.nominal_pass_s = 3.0  # one pass on 4 cores; sizes the run from --seconds
        self.records: dict[str, dict] = {}

    def warm_up(self) -> None:
        """Set-up: the first query (``keys.json["setup"]``), cold."""
        for key in self.basket:
            force(self.reg[key].fn(self.spark, self.data_dirs[0]))

    def settle(self) -> None:
        """One untimed pass, so no timed pass pays first-run costs (it
        takes about twice a warm pass).  Passes after it still speed up
        by 10-20% as the JVM warms; the per-key median over the timed
        passes absorbs that."""
        self.run_pass(self.data_dirs[0], traced=False)

    def run_pass(self, data_dir: str, traced: bool) -> list[tuple[str, float, bool]]:
        """One pass over the keys; returns (key, seconds, ok) per key."""
        import time

        order = list(self.keys)
        self.rng.shuffle(order)
        out = []
        tr = self.tracer if traced else Tracer()
        for key in order:
            t0 = time.perf_counter()
            ok = True
            try:
                with tr.span("key", key):
                    with tr.span("build", key, group=f"{key}:build"):
                        df = self.reg[key].fn(self.spark, data_dir)
                    if traced:
                        with tr.span("plan", key, group=f"{key}:plan"):
                            fp = plan_fingerprint(df)
                    with tr.span("exec", key, group=f"{key}:exec"):
                        force(df)
                if traced:
                    rec = self.records.setdefault(key, {"class": self.key_class[key]})
                    rec["fingerprint"] = fp
                    rec.setdefault("hygiene", []).append(hygiene(self.spark))
            except Exception as e:  # noqa: BLE001 - counted as a failed op
                ok = False
                print(f"registry_sweep: {key} failed: {e}", file=sys.stderr)
            out.append((key, time.perf_counter() - t0, ok))
        return out

    def check(self, data_dir: str) -> tuple[int, int]:
        """Each key's output against its DuckDB oracle, normalized as the
        test suite does.  Returns (checks, failures)."""
        sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tests"))
        from oracle import duck_connection, normalize

        con = duck_connection(data_dir)
        bad = 0
        for key in self.keys:
            spec = self.reg[key]
            try:
                got = normalize(spec.fn(self.spark, data_dir).toPandas())
                want = normalize(con.execute(spec.oracle).df())
                if got != want:
                    bad += 1
                    print(f"registry_sweep: {key} does not match its oracle", file=sys.stderr)
            except Exception as e:  # noqa: BLE001 - counted as a failed check
                bad += 1
                print(f"registry_sweep: {key} check failed: {e}", file=sys.stderr)
        con.close()
        return len(self.keys), bad

    def layer_metrics(self) -> dict[str, float]:
        """Build/plan/exec seconds per traced pass, the build share of
        key time, and the plan-fingerprint node counts summed over the
        keys (one pass's plans)."""
        tr = self.tracer
        passes = max(1, tr.count("key") // len(self.keys))
        fps = [r["fingerprint"] for r in self.records.values()]
        out = {
            "operators.build_s": tr.total("build") / passes,
            "operators.build_frac": tr.total("build") / (tr.total("key") or 1.0),
            "plan.s": tr.total("plan") / passes,
            "exec.s": tr.total("exec") / passes,
        }
        for name in ("exchanges", "broadcasts", "scans", "python_evals",
                     "generates", "cartesians"):
            out[f"plan.{name}"] = float(sum(fp[name] for fp in fps))
        return out
