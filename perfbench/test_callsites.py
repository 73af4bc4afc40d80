"""Call-site timer.  Run: python3 -m pytest perfbench -q"""

import importlib.util

from callsites import CallSiteTimer

WATCHED = '''import json


def helper():
    return json.dumps(1)


def run():
    json.dumps([1])
    return helper()
'''


def test_groups_calls_from_the_watched_file_by_caller_and_line(tmp_path):
    path = tmp_path / "watched.py"
    path.write_text(WATCHED)
    spec = importlib.util.spec_from_file_location("watched", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    with CallSiteTimer(str(path)) as t:
        mod.run()
    mod.run()  # outside the timer: not recorded

    sites = [(fn, line) for fn, line, _ in t.calls]
    assert sites == [("run", "json.dumps([1])"), ("helper", "return json.dumps(1)")]
    assert all(s >= 0 for _, _, s in t.calls)
