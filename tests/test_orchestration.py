"""DAG-shim checks that don't need Airflow installed: the modules must
import cleanly (the engine container has no Airflow), and the
spark-submit commands they build must be syntactically valid —
regression for the `-m` bug (spark-submit has no module flag; the
primary resource must be a script path)."""

from __future__ import annotations

import importlib
import os
import sys
import types
from datetime import datetime

from orchestration import corpus_curation_dag, flight_pipeline_dag


def test_dag_modules_import_without_airflow():
    assert flight_pipeline_dag.HAVE_AIRFLOW in (True, False)
    assert corpus_curation_dag.HAVE_AIRFLOW in (True, False)


def test_spark_submit_commands_use_script_path_not_module():
    for cmd in (flight_pipeline_dag.PIPELINE_CMD, corpus_curation_dag.CURATE_CMD):
        assert " -m " not in cmd, "spark-submit has no -m flag"
        assert "--py-files" in cmd


def test_launcher_primary_resources_exist_and_import():
    for cmd, launcher in (
        (flight_pipeline_dag.PIPELINE_CMD, flight_pipeline_dag.LAUNCHER),
        (corpus_curation_dag.CURATE_CMD, corpus_curation_dag.LAUNCHER),
        (flight_pipeline_dag._maint_cmd("compact --path p --out o"),
         flight_pipeline_dag.MAINT_LAUNCHER),
    ):
        assert launcher in cmd
        assert os.path.isfile(launcher)
        # the launcher's import target must resolve (it runs main() only
        # under __main__, so importing it is side-effect free)
        src = open(launcher).read()
        assert "def main" not in src and "import main" in src


def test_object_store_warehouse_is_not_ready(monkeypatch):
    """The weekly swap needs ``mv`` on a mounted path, so an object-store
    warehouse must hold the DAG at its sensor instead of failing the swap
    every week."""
    monkeypatch.setattr(flight_pipeline_dag, "WAREHOUSE", "s3://bucket/wh")
    assert not flight_pipeline_dag._warehouse_ready()


def _airflow_stub():
    """Just enough of the ``airflow`` package for a DAG module's
    ``if HAVE_AIRFLOW:`` body to run: DAGs and tasks record their
    arguments and ``>>`` edges."""
    dags = []

    class DAG:
        active = None

        def __init__(self, dag_id, **kw):
            self.dag_id, self.kw, self.tasks = dag_id, kw, []
            dags.append(self)

        def __enter__(self):
            DAG.active = self
            return self

        def __exit__(self, *exc):
            DAG.active = None

    class _Task:
        def __init__(self, task_id, **kw):
            self.task_id, self.kw, self.downstream = task_id, kw, []
            DAG.active.tasks.append(self)

        def __rshift__(self, other):
            self.downstream.append(other)
            return other

        def __rrshift__(self, upstream):  # [a, b] >> task
            for t in upstream:
                t.downstream.append(self)
            return self

    ops = {name: type(name, (_Task,), {}) for name in
           ("BashOperator", "ShortCircuitOperator", "PythonSensor")}
    mods = {name: types.ModuleType(name) for name in (
        "airflow", "airflow.operators", "airflow.operators.bash",
        "airflow.operators.python", "airflow.sensors",
        "airflow.sensors.python")}
    mods["airflow"].DAG = DAG
    mods["airflow.operators.bash"].BashOperator = ops["BashOperator"]
    mods["airflow.operators.python"].ShortCircuitOperator = \
        ops["ShortCircuitOperator"]
    mods["airflow.sensors.python"].PythonSensor = ops["PythonSensor"]
    return mods, dags


def test_pipeline_dag_compacts_after_the_pipeline(monkeypatch):
    """With Airflow present the module builds ONE linear DAG, one run at
    a time: sensor → pipeline → weekly gate → compact → swap. A second
    DAG compacting bronze on its own schedule could list bronze while a
    pipeline run appends to it, and the swap would then drop those rows
    into bronze_flights.old."""
    mods, dags = _airflow_stub()
    for name, mod in mods.items():
        monkeypatch.setitem(sys.modules, name, mod)
    try:
        dag_mod = importlib.reload(flight_pipeline_dag)
        assert dag_mod.HAVE_AIRFLOW
        assert [d.dag_id for d in dags] == ["flight_price_pipeline_spark"]
        (dag,) = dags
        assert dag.kw["max_active_runs"] == 1

        downstream = {id(d) for t in dag.tasks for d in t.downstream}
        chain = [t for t in dag.tasks if id(t) not in downstream]
        assert len(chain) == 1
        while chain[-1].downstream:
            (nxt,) = chain[-1].downstream
            chain.append(nxt)
        assert [(type(t).__name__, t.task_id) for t in chain] == [
            ("PythonSensor", "wait_for_warehouse"),
            ("BashOperator", "run_flight_pipeline"),
            ("ShortCircuitOperator", "weekly_compaction_gate"),
            ("BashOperator", "compact_bronze"),
            ("BashOperator", "swap_compacted"),
        ]
        assert len(chain) == len(dag.tasks)

        gate = chain[2].kw["python_callable"]
        assert gate(data_interval_end=datetime(2026, 1, 4))      # Sunday
        assert not gate(data_interval_end=datetime(2026, 1, 3))  # Saturday
        cmds = [t.kw["bash_command"] for t in dag.tasks
                if "bash_command" in t.kw]
        assert not any("ledger" in c for c in cmds)
        bronze = f"{dag_mod.WAREHOUSE}/bronze_flights"
        assert f"--path {bronze} " in chain[3].kw["bash_command"]
        assert chain[4].kw["bash_command"] == dag_mod._swap(bronze)
    finally:
        monkeypatch.undo()
        importlib.reload(flight_pipeline_dag)


def test_job_mains_are_importable():
    from airflow_project_flight_price_analysis_spark.jobs.corpus_pipeline import main as m1
    from airflow_project_flight_price_analysis_spark.jobs.flight_pipeline import main as m2
    from airflow_project_flight_price_analysis_spark.jobs.maintenance import main as m3

    assert callable(m1) and callable(m2) and callable(m3)


def test_maintenance_job_cli(spark, tmp_path, capsys):
    """The maintenance entry point compacts end-to-end and emits the
    one-line JSON report (flight_pipeline convention)."""
    import json

    from airflow_project_flight_price_analysis_spark.jobs.maintenance import (
        main,
    )

    frag = str(tmp_path / "frag")
    spark.range(0, 2000).repartition(20).write.parquet(frag)
    assert main(["compact", "--path", frag, "--out",
                 str(tmp_path / "c"), "--target-mb", "1"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["cmd"] == "compact" and rep["files"] >= 1
    assert spark.read.parquet(str(tmp_path / "c")).count() == 2000
