import os

from procmem import python_and_jvm_peak_mb, parse_vm_hwm_kb, vm_hwm_kb

STATUS = """Name:\tjava
VmPeak:\t 5000000 kB
VmHWM:\t  812345 kB
VmRSS:\t  700000 kB
"""


def test_parse_vm_hwm():
    assert parse_vm_hwm_kb(STATUS) == 812345
    assert parse_vm_hwm_kb("Name:\tx\n") is None


def test_own_process_has_a_high_water_mark():
    kb = vm_hwm_kb(os.getpid())
    assert kb is not None and kb > 0
    python, jvm = python_and_jvm_peak_mb(os.getpid())
    assert python >= kb / 1024 and jvm == 0.0


def test_missing_process_reads_none():
    assert vm_hwm_kb(2**22 + 12345) is None
