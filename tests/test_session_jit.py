"""The session factory's JIT policy must reach the driver JVM.

Spark launches the driver with `-XX:+IgnoreUnrecognizedVMOptions`, so a
misspelled or misrouted flag is dropped without a word; the command line
proves nothing. These tests read each flag back from the running JVM
through `HotSpotDiagnosticMXBean`.
"""

from __future__ import annotations

import pytest

from flink_job_spark.session import JIT_POLICY

POLICY = dict(flag[len("-XX:"):].split("=", 1) for flag in JIT_POLICY.split())


def _vm_option(spark, name: str):
    jvm = spark.sparkContext._jvm
    bean_cls = jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    return jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        bean_cls).getVMOption(name)


def test_policy_delays_c2_osr():
    # the back-edge (OSR) threshold is the flag that cuts most C2 time
    assert "Tier4BackEdgeThreshold" in POLICY


@pytest.mark.parametrize("name", sorted(POLICY))
def test_policy_flag_set_at_vm_creation(spark, name):
    opt = _vm_option(spark, name)
    assert (opt.getValue(), opt.getOrigin().toString()) == (POLICY[name], "VM_CREATION")


def test_c2_stays_enabled(spark):
    # C1-only (TieredStopAtLevel=1) more than doubles a steady 600k-row
    # snapshot; the policy only delays C2, it must never turn it off
    assert _vm_option(spark, "TieredStopAtLevel").getValue() == "4"
