import json
import os
import re
import time

import layers
import run
from workloads import JobResult

BENCHMARK = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


class FakeWorkload:
    """Stands in for a Spark workload: jobs sleep briefly; ``broken`` jobs
    raise and ``wrong`` outputs fail their check."""

    name, seed, items_per_job = "fake", 0, 10

    def __init__(self, broken=(), wrong=()):
        self.broken, self.wrong = set(broken), set(wrong)
        self.stopped = False

    def generate(self):
        pass

    def start_session(self):
        return "session"

    def stop_session(self, spark):
        self.stopped = True

    def peak_rss_mb(self, spark):
        return 100.0, [23.0]

    def warmup(self, spark, k):
        pass

    def run_job(self, spark, k, rec=None):
        time.sleep(0.005)
        if k in self.broken:
            raise RuntimeError(f"job {k} broke")
        return JobResult(out_dir=f"job{k}", seconds=0.001 * k)

    def reference(self, spark):
        return "reference"

    def check(self, result, reference):
        return ["wrong rows"] if result.out_dir in {f"job{k}" for k in self.wrong} else []


def _end_to_end():
    with open(BENCHMARK) as f:
        return json.load(f)["end_to_end"]


def test_every_end_to_end_metric_is_printed_with_its_unit():
    wl = FakeWorkload()
    result = run.run(wl, 0.2, trace=False)
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 2 and result["attempted"] % 2 == 0
    want = {m["name"]: m["unit"] for m in _end_to_end()}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert wl.stopped


def test_a_broken_job_is_counted_not_dropped():
    wl = FakeWorkload(broken={1, 3})
    result = run.run(wl, 0.2, trace=False)
    jobs = (result["attempted"] + 2) // 2  # every job, plus a check for each job that finished
    assert jobs >= 4
    assert result["failed"] == 2
    assert not result["correct"]
    assert result["metrics"]["job_s"]["value"] > 0


def test_a_wrong_output_is_counted():
    result = run.run(FakeWorkload(wrong={2}), 0.2, trace=False)
    assert result["failed"] == 1 and not result["correct"]


def test_a_failed_reference_fails_every_check():
    wl = FakeWorkload()
    wl.reference = lambda spark: (_ for _ in ()).throw(OSError("no reference"))
    result = run.run(wl, 0.2, trace=False)
    assert result["failed"] == result["attempted"] // 2


def test_metric_names_and_units_are_well_formed():
    with open(BENCHMARK) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"] + bench["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names)
    assert all(re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]) for m in bench["end_to_end"] + bench["per_layer"])
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.UNITS
    assert all(NAME.fullmatch(n) for n in layers.UNITS)
