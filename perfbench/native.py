"""One of the benchmark's steps that load native libraries (numpy and
pyarrow for the inputs, DuckDB for the references, pandas for the head
compare), in a process of its own:

    python3 perfbench/native.py <call>  < args.json

reads the call's arguments as a JSON list on stdin and prints its JSON
result as the last line of stdout. run.py loads none of these libraries
itself, so a crash inside one ends this process, which run.py reports,
and never the run.
"""
import json
import os
import sys

# one worker per host CPU is what the libraries start by default; the JVM
# has exited when a check runs, but a shared host may have far more CPUs
# than this container may use
for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS"):
    os.environ.setdefault(var, "1")

import pyarrow as pa  # noqa: E402

pa.set_cpu_count(2)
pa.set_io_thread_count(2)

import check  # noqa: E402
import gen  # noqa: E402


def prepare(workload, build, seed, wl, oracle):
    """The workload's input and its reference: {"data", "ref"}, plus
    "warm_data" for ts_train's small warm-up input."""
    inputs = os.path.join(build, "inputs")
    if workload == "ts_train":
        data = gen.events(inputs, seed, wl["params"])
        return {"data": data,
                "ref": check.reference(build, workload, data, oracle[workload]),
                "warm_data": gen.events(inputs, seed, wl["warm_params"])}
    if workload == "corpus_curate":
        data = gen.documents(inputs, seed, wl["params"])
        return {"data": data,
                "ref": check.reference(build, workload, data, oracle[workload])}
    data = check.stage_tables(build, wl["params"]["data_dir"])
    return {"data": data,
            "ref": check.head_references(build, data, oracle["heads"])}


CALLS = {"prepare": prepare, "compare": check.compare}

if __name__ == "__main__":
    result = CALLS[sys.argv[1]](*json.load(sys.stdin))
    print(json.dumps(result), flush=True)
    # the answer is out: skip the libraries' teardown, where a worker
    # thread still running can abort the process
    os._exit(0)
