"""Shared harness for the bench scripts: one session, one timer, one
stage-metrics reader and one BENCH.md writer.

* Importing it puts the repo root on ``sys.path``; ``session`` builds the
  engine's session with parallelism from ``SPARK_GRAFT_CPUS`` or the
  machine.
* ``stages`` reads per-stage shuffle and task metrics from the driver's
  status store, which is populated with the Spark UI off.
* ``publish`` prints a bench's JSON, caches it as ``scripts/.<name>.json``
  (``scaling_bench.py`` re-renders sections from these) and splices the
  section into BENCH.md with ``replace_section``.
"""

from __future__ import annotations

import json
import os
import sys
import time

SCRIPTS_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(SCRIPTS_DIR)
BENCH_MD = os.path.join(REPO_ROOT, "BENCH.md")
# the scripts import the package (and bench.py) from the checkout
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)


def session(app_name: str, work: str | None = None, **conf):
    """``get_spark(app_name, parallelism=None, **conf)`` at log level ERROR.

    ``work`` holds the SQL warehouse and the Derby home, so a script that
    calls ``saveAsTable`` leaves nothing behind in the working directory.
    """
    from cdrc_semantic_search_spark.session import get_spark

    if work is not None:
        conf["extra_conf"] = {
            **conf.get("extra_conf", {}),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Dderby.system.home={os.path.join(work, 'derby')}",
        }
    spark = get_spark(app_name=app_name, parallelism=None, **conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def timed(fn):
    """``(fn(), wall seconds rounded to 0.01)``."""
    t0 = time.time()
    out = fn()
    return out, round(time.time() - t0, 2)


def stages(spark, seen: set) -> list[dict]:
    """Metrics of the completed stages whose (stage, attempt) is not in
    ``seen``; adds them to ``seen``.

    Per stage: ``tasks``, ``shuffle_write_bytes``, ``shuffle_write_records``,
    ``shuffle_read_records``, and the median/max of task run time
    (``task_ms_*``) and of shuffle-read records per task
    (``task_read_rec_*``). Read from the driver's status store, the data
    the UI's REST API serves, after the listener bus has drained.
    """
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jvm = sc._jvm
    v1 = jvm.org.apache.spark.status.api.v1
    statuses = jvm.java.util.ArrayList()
    statuses.add(v1.StageStatus.COMPLETE)
    quantiles = sc._gateway.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    listed = store.stageList(
        statuses, False, False, sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    out = []
    for i in range(listed.size()):
        s = listed.apply(i)
        key = (s.stageId(), s.attemptId())
        if key in seen:
            continue
        seen.add(key)
        m = {
            "stage": s.stageId(),
            "tasks": s.numCompleteTasks(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "shuffle_write_records": s.shuffleWriteRecords(),
            "shuffle_read_records": s.shuffleReadRecords(),
        }
        summary = store.taskSummary(s.stageId(), s.attemptId(), quantiles)
        if summary.isDefined():
            q = summary.get()
            run = q.executorRunTime()
            rr = q.shuffleReadMetrics().readRecords()
            m["task_ms_median"], m["task_ms_max"] = run.apply(0), run.apply(1)
            m["task_read_rec_median"], m["task_read_rec_max"] = rr.apply(0), rr.apply(1)
        out.append(m)
    return out


def replace_section(marker: str, section: str, path: str = BENCH_MD) -> None:
    """Drop the section starting at ``marker`` (a line beginning with
    ``## ``) through the next ``## `` heading, leaving every other section
    byte for byte, and append ``section``. No-op when the file does not
    exist (nothing to splice into). ``section`` should start with its own
    heading line containing ``marker``."""
    if not os.path.exists(path):
        return
    text = open(path).read()
    if marker in text:
        i = text.index(marker)
        nxt = text.find("\n## ", i + 1)
        text = text[:i] + (text[nxt + 1 :] if nxt != -1 else "")
    with open(path, "w") as f:
        f.write(text.rstrip() + "\n" + section)


def publish(name: str, results, marker: str, section: str) -> None:
    """Print ``results`` as JSON, cache them as ``scripts/.<name>.json`` and
    splice ``section`` into BENCH.md under ``marker``."""
    print(json.dumps(results))
    with open(os.path.join(SCRIPTS_DIR, f".{name}.json"), "w") as f:
        json.dump(results, f)
    replace_section(marker, section)
