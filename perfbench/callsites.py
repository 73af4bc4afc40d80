"""Wall time of the calls one source file makes, grouped by call site.

A profile hook records every call whose caller frame lives in the
watched file, keyed by (calling function, source line).  Only calls
into other modules count, so a helper of the watched file is not
counted twice with the calls it makes.
"""

from __future__ import annotations

import linecache
import sys
import time


class CallSiteTimer:
    def __init__(self, filename: str):
        self.filename = filename
        self.calls: list[tuple[str, str, float]] = []  # (caller fn, line text, seconds)
        self._open: dict[int, tuple[str, str, float]] = {}

    def _hook(self, frame, event, _arg):
        if event == "call":
            caller = frame.f_back
            if (
                caller is not None
                and caller.f_code.co_filename == self.filename
                and frame.f_code.co_filename != self.filename
            ):
                line = linecache.getline(self.filename, caller.f_lineno).strip()
                self._open[id(frame)] = (caller.f_code.co_name, line, time.perf_counter())
        elif event == "return":
            rec = self._open.pop(id(frame), None)
            if rec is not None:
                self.calls.append((rec[0], rec[1], time.perf_counter() - rec[2]))

    def __enter__(self):
        sys.setprofile(self._hook)
        return self

    def __exit__(self, *exc):
        sys.setprofile(None)
        return False
