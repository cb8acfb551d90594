"""Import path kept for the benchmark harness: ``perfbench/trace.py``
imports ``_diag_counters`` from here to read the driver JVM's GC and JIT
time around traced calls. The benchmark itself is ``perfbench/run.py``;
this module runs nothing."""

import os


def _diag_counters(spark):
    """(total_gc_ms, total_process_cpu_s, total_jit_ms,
    profiled_code_heap_usage) of the local-mode JVM; each None if
    unreadable — diagnostics must never break the
    bench. GC via the management MXBeans; CPU via /proc of the java
    child process (OperatingSystemMXBean.getProcessCpuTime is
    module-restricted to py4j reflection on Java 17)."""
    try:
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        beans = mf.getGarbageCollectorMXBeans()
        gc_ms = sum(
            beans.get(i).getCollectionTime() for i in range(beans.size())
        )
    except Exception:
        gc_ms = None
        mf = None
    try:
        # cumulative JIT time: a slow shot whose jit_ms delta rivals
        # its wall is a compilation tail (deopt/recompile), not data
        jit_ms = (
            mf.getCompilationMXBean().getTotalCompilationTime()
            if mf is not None
            else None
        )
    except Exception:
        jit_ms = None
    try:
        # profiled-nmethods code-heap occupancy: this segment filling
        # flushes hot compiled code (methods then run interpreted —
        # the measured 10x-CPU slow mode); occupancy near its max in
        # a slow shot is the smoking gun. Raised to 512m total in
        # session.py (r15).
        code_mb = None
        if mf is not None:
            pools = mf.getMemoryPoolMXBeans()
            for i in range(pools.size()):
                p = pools.get(i)
                if "profiled nmethods" in p.getName() and not p.getName().startswith("CodeHeap 'non-"):
                    u = p.getUsage()
                    code_mb = {
                        "used": round(u.getUsed() / 2**20, 1),
                        "max": round(u.getMax() / 2**20, 1),
                    }
                    break
    except Exception:
        code_mb = None
    cpu_s = None
    try:
        me = os.getpid()
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parts = f.read().split()
                # field 3 = ppid, 13/14 = utime/stime (clock ticks)
                if int(parts[3]) == me and "java" in parts[1]:
                    hz = os.sysconf("SC_CLK_TCK") or 100
                    cpu_s = (int(parts[13]) + int(parts[14])) / hz
                    break
            except (OSError, ValueError, IndexError):
                continue
    except Exception:
        pass
    return gc_ms, cpu_s, jit_ms, code_mb
