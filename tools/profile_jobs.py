"""Per-job profile of a registry key (r16 optimization round, guide §1):
run the key once at the given sf_dir and print every Spark job that ran
— duration, stage count, task count, shuffle read/write — so the
per-round cost structure of iterative operators is visible without the
UI (spark.ui.enabled=false). Each key's header also gives the codegen
classes it compiled and their compile time: 0 for a key already run in
this session, so pass a key twice to see its warm cost.

Usage: python tools/profile_jobs.py <sf_dir> <key> [key ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from blockchain2graphdb_spark import registry
from blockchain2graphdb_spark.session import codegen_stats, get_spark


def main() -> None:
    sf_dir = sys.argv[1]
    keys = sys.argv[2:]
    specs = registry.load_all()
    spark = get_spark("profile-jobs")
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    store = jsc.statusStore()
    jvm = sc._jvm

    def drain():
        try:
            jsc.listenerBus().waitUntilEmpty(30_000)
        except Exception:
            time.sleep(2)

    def jobs():
        it = store.jobsList(None).iterator()
        out = []
        while it.hasNext():
            out.append(it.next())
        return out

    def stage_map():
        empty = jvm.java.util.ArrayList()
        darr = sc._gateway.new_array(jvm.double, 0)
        it = store.stageList(empty, False, False, darr,
                             jvm.java.util.ArrayList()).iterator()
        m = {}
        while it.hasNext():
            s = it.next()
            m[(s.stageId(), s.attemptId())] = s
        return m

    for key in keys:
        drain()
        seen = {j.jobId() for j in jobs()}
        c0, ms0 = codegen_stats(spark)
        t0 = time.time()
        sc.setJobDescription(f"profile:{key}")
        df = specs[key].builder(spark, sf_dir)
        n = df.count()
        wall = time.time() - t0
        sc.setJobDescription(None)
        c1, ms1 = codegen_stats(spark)
        drain()
        smap = stage_map()
        new = sorted((j for j in jobs() if j.jobId() not in seen),
                     key=lambda j: j.jobId())
        print(f"\n=== {key}: wall {wall:.3f}s, rows {n}, jobs {len(new)}, "
              f"codegen {c1 - c0} classes {ms1 - ms0:.0f} ms ===")
        tot = 0.0
        for j in new:
            st = j.submissionTime()
            ct = j.completionTime()
            dur = 0.0
            if st.isDefined() and ct.isDefined():
                dur = (ct.get().getTime() - st.get().getTime()) / 1000.0
            tot += dur
            jsids = j.stageIds()  # scala Seq
            sids = [jsids.apply(i) for i in range(jsids.length())]
            srb = swb = tasks = 0
            for sid in sids:
                s = smap.get((sid, 0))
                if s is not None:
                    srb += s.shuffleReadBytes()
                    swb += s.shuffleWriteBytes()
                    tasks += s.numCompleteTasks()
            print(f"  job {j.jobId():4d} {dur:7.3f}s stages={len(sids):2d} "
                  f"tasks={tasks:4d} shufR={srb:>10d} shufW={swb:>10d} "
                  f"desc={str(j.name())[:60]}")
            if dur >= 0.3:
                for sid in sids:
                    s = smap.get((sid, 0))
                    if s is None:
                        continue
                    sdur = s.executorRunTime() / 1000.0
                    print(f"    stage {sid:4d} runtime {sdur:7.3f}s "
                          f"tasks={s.numCompleteTasks():4d} "
                          f"in={s.inputBytes():>10d} "
                          f"shufR={s.shuffleReadBytes():>9d} "
                          f"shufW={s.shuffleWriteBytes():>9d} "
                          f"name={str(s.name())[:70]}")
        print(f"  sum(job durations) {tot:.3f}s vs wall {wall:.3f}s "
              f"(gap = driver/planning)")


if __name__ == "__main__":
    main()
