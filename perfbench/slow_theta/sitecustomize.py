"""Sensitivity shim for the benchmark's self-check; never part of the package.

``run.py --slow-theta`` puts this directory first on PYTHONPATH, so
Python imports this module at start-up in the driver and in every Spark
Python worker.  It makes ``ThetaSketch.update_values`` wait 1.5 us per
value after doing its work, so the answers are unchanged and only the
time of the theta update grows (about 100x: the numpy update itself
costs ~15-60 ns per value).
"""

import time

from datasketches_spark.sketches import theta as _theta

DELAY_PER_VALUE_S = 1.5e-6
_update_values = _theta.ThetaSketch.update_values


def _slow(self, values):
    _update_values(self, values)
    time.sleep(len(values) * DELAY_PER_VALUE_S)


_theta.ThetaSketch.update_values = _slow
