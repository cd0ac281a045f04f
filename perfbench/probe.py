"""Host-speed probe: how fast the host is right now, apart from the program.

The benchmark runs on a few cores of a shared host whose speed drifts by
a third or more over minutes (hypervisor steal, neighbours' cache and
memory traffic), so the same op's wall time moves with the host between
runs far more than a 10 % regression would move it.  The probe is a
fixed piece of work of the kinds the measured ops do, none of it from
the program: an interpreter loop, a sweep over a 32 MB array, four small
parquet files written and read back, and a hundred Python-to-JVM calls
over py4j.  It runs right after every timed op, and the op's wall time
is reported scaled by ``PROBE_REF_S`` over the probe's time: the time
the op would take on a host where the probe takes ``PROBE_REF_S``.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: probe time the reported op times are scaled to (about the probe's
#: time on the 4-core host the benchmark was tuned on)
PROBE_REF_S = 0.045

_LOOP = 100_000
_LOOP_HASH = 3686109669
_FILES = 4
_CALLS = 100


class Probe:
    def __init__(self, scratch_dir: str, jvm):
        os.makedirs(scratch_dir, exist_ok=True)
        self._paths = [os.path.join(scratch_dir, f"probe{i}.parquet")
                       for i in range(_FILES)]
        self._system = jvm.java.lang.System
        self._array = np.ones(4_000_000)
        keys = np.arange(5_000)
        self._table = pa.table({"k": keys, "v": keys * 0.5,
                                "s": [f"key{k}" for k in keys]})
        self()  # the first call pays one-time costs

    def __call__(self) -> float:
        """Seconds the fixed work took."""
        t0 = time.perf_counter()
        h = 2166136261
        for i in range(_LOOP):
            h = (h ^ i) * 16777619 & 0xFFFFFFFF
        assert h == _LOOP_HASH, "probe loop changed"
        self._array.sum()
        self._array.sum()
        for path in self._paths:
            pq.write_table(self._table, path)
        for path in self._paths:
            pq.read_table(path)
            os.remove(path)
        for _ in range(_CALLS):
            self._system.nanoTime()
        return time.perf_counter() - t0
