"""The benchmark's exact counters repeat: two warm rounds of one workload
launch the same Spark jobs, stages and tasks, send the same py4j commands
and, where the rounds read the same inputs, move the same bytes.

    python3 -m pytest perfbench/test_perfbench.py

Each case starts and stops its own JVM and runs two warm rounds (about a
minute per workload).
"""

import pytest

import run
import workloads

WORK = ("jobs", "stages", "numTasks")
BYTES = ("inputBytes", "shuffleReadBytes", "shuffleWriteBytes")
# object_cep commits new rows every round, so the bytes its rounds read
# differ from round to round (and repeat from run to run for one seed)
WRITES_EACH_ROUND = {"object_cep"}


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_two_warm_rounds_count_the_same(name):
    run.prepare_env()
    wl = workloads.WORKLOADS[name]
    bench = run.Bench(wl, seed=7, trace=True)
    result = bench.run(2 * wl.round_seconds, run.inputs(wl, 7))
    assert result["correct"]
    # the known fault (object_cep's Watch stream) fails once per warm
    # round; nothing else fails
    faults = 1 if name == "object_cep" else 0
    assert result["failed"] == faults * len(bench.rounds)
    first, second = bench.counts[:2]
    exact = WORK if name in WRITES_EACH_ROUND else WORK + BYTES
    assert {k: first[k] for k in exact} == {k: second[k] for k in exact}
    r1, r2 = bench.rounds[:2]
    assert (r1["py4j_build"], r1["py4j_run"]) == (r2["py4j_build"], r2["py4j_run"])
