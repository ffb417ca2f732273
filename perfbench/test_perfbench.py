"""Self-test of the benchmark (not of the project).

    python3 perfbench/test_perfbench.py        # from the repository root

Checks that
  * a delay planted in the benchmark's span wrapper at a layer boundary
    shows up in a traced run as the tracer's self time of that layer
    only: 3 s per micro-batch of one streaming twin
    (`streaming.batch_s.*`) and 3 s in one llm stage probe
    (`llm.*_s`), each read from span self times;
  * the micro-batch delay moves the end-to-end pass time by about the
    planted amount in an untraced run (10 s per batch);
  * a deliberately wrong output trips each workload's correctness gate
    (non-zero exit, "correct": false);
  * the benchmark refuses to run, without printing a result, in a
    directory that holds only BENCHMARK.json and perfbench/.

It runs the benchmark six times, about nine minutes in all.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join(ROOT, "perfbench", "run.py")
# The traced checks compare span self times of single layers, the
# untraced one whole pass times, which host slowdowns can stretch by ~50 %: the
# untraced plant is large enough to stand clear of that.
PLANT_S = 3.0
E2E_PLANT_S = 10.0
TWIN = "token_budget"
STAGE = "minhash_pairs"  # an llm stage probe of the traced run
BATCHES = 3  # micro-batches per twin per pass


def bench(workload, trace, env=None, seed=7, seconds=1, cwd=ROOT):
    """Run the benchmark; return (exit code, run record, result)."""
    e = dict(os.environ)
    e.update(env or {})
    r = subprocess.run([sys.executable, RUN, "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)],
                       cwd=cwd, env=e, capture_output=True, text=True,
                       timeout=400)
    lines = r.stdout.strip().splitlines()
    if len(lines) < 2:
        return r.returncode, None, None
    return r.returncode, json.loads(lines[-2]), json.loads(lines[-1])


def value(res, name):
    return res["metrics"][name]["value"]


class PlantedDelay(unittest.TestCase):
    def test_delay_is_attributed_to_its_layer_and_moves_end_to_end(self):
        plant = {"PERFBENCH_PLANT_DELAY":
                 f"streaming.batch:{TWIN}={PLANT_S},llm.{STAGE}={PLANT_S}"}
        _, _, base = bench("prepare_stream", 1)
        _, _, planted = bench("prepare_stream", 1, plant)

        def gain(name):
            return value(planted, name) - value(base, name)

        for hit, others in (
                (f"streaming.batch_s.{TWIN}",
                 ["streaming.batch_s.neardup", "streaming.batch_s.fuzzy"]),
                (f"llm.{STAGE}_s", ["llm.exact_dedup_s", "llm.clusters_s"])):
            self.assertAlmostEqual(gain(hit), PLANT_S, delta=0.3 * PLANT_S,
                                   msg=hit)
            for other in others:
                self.assertLess(abs(gain(other)), 0.3 * PLANT_S, other)
        plant = {"PERFBENCH_PLANT_DELAY":
                 f"streaming.batch:{TWIN}={E2E_PLANT_S}"}
        _, base_rec, base = bench("prepare_stream", 0)
        _, plant_rec, planted = bench("prepare_stream", 0, plant)
        self.assertAlmostEqual(plant_rec["pass_s"] - base_rec["pass_s"],
                               BATCHES * E2E_PLANT_S,
                               delta=0.5 * BATCHES * E2E_PLANT_S)
        self.assertLess(value(planted, "items_per_s"),
                        value(base, "items_per_s"))


class CorrectnessGates(unittest.TestCase):
    def test_wrong_output_fails_each_workload(self):
        for w in ("ingest", "prepare_stream"):
            rc, _, res = bench(w, 0, {"PERFBENCH_CORRUPT": "1"})
            self.assertNotEqual(rc, 0, w)
            self.assertFalse(res["correct"], w)
            self.assertGreater(res["failed"], 0, w)


class RefusesWithoutProgram(unittest.TestCase):
    def test_bare_directory(self):
        d = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_work"))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(ROOT, "perfbench"),
                            os.path.join(d, "perfbench"))
            rc, _, res = bench("ingest", 0, cwd=d)
            self.assertNotEqual(rc, 0)
            self.assertIsNone(res)
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    unittest.main()
