"""Self-tests of the Python side: the oracle comparison rejects a dropped
or changed row, and every end-to-end metric is filled for every
workload."""
import pandas as pd

import oracle
import run


def python_tests():
    want = pd.DataFrame({"b": [1, 2, 3], "a": ["x", "y", "z"]})
    assert oracle.compare(want[["a", "b"]].iloc[::-1], want) is None, "row order must not matter"
    assert oracle.compare(want.iloc[:2], want) is not None, "a dropped row must fail"
    changed = want.copy()
    changed.loc[1, "b"] = 5
    assert oracle.compare(changed, want) is not None, "a changed value must fail"
    print("[selftest] PASS oracle comparison rejects a dropped or changed row")

    for w in run.WORKLOADS:
        metrics = {src: {"value": 1.0, "unit": "x", "n": 1}
                   for _, by in run.END_TO_END.values() for src, _ in by.values()}
        res = {"metrics": metrics, "layers": {}, "attempted": 1, "failed": 0}
        line = run.final_line(res, [], w, 0)
        assert set(line["metrics"]) == set(run.END_TO_END), w
        assert line["correct"], w
        bad = run.final_line(res, [("x", "broken")], w, 0)
        assert not bad["correct"], w
    print("[selftest] PASS every workload fills every end-to-end metric")
