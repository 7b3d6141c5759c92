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
    ):
        assert launcher in cmd
        assert os.path.isfile(launcher)
        # the launcher's import target must resolve (it runs main() only
        # under __main__, so importing it is side-effect free)
        src = open(launcher).read()
        assert "def main" not in src and "import main" in src


def test_object_store_warehouse_is_not_ready(monkeypatch):
    """The warehouse must be a mounted path: the probe's ``os.path.isdir``
    check holds an object-store warehouse at the sensor instead of
    letting the pipeline task run against it."""
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
           ("BashOperator", "PythonSensor")}
    mods = {name: types.ModuleType(name) for name in (
        "airflow", "airflow.operators", "airflow.operators.bash",
        "airflow.sensors", "airflow.sensors.python")}
    mods["airflow"].DAG = DAG
    mods["airflow.operators.bash"].BashOperator = ops["BashOperator"]
    mods["airflow.sensors.python"].PythonSensor = ops["PythonSensor"]
    return mods, dags


def test_pipeline_dag_is_one_linear_chain(monkeypatch):
    """With Airflow present the module builds ONE DAG, one run at a time:
    sensor → pipeline, the reference's linear shape. Two overlapping runs
    would append the same new rows to bronze twice."""
    mods, dags = _airflow_stub()
    for name, mod in mods.items():
        monkeypatch.setitem(sys.modules, name, mod)
    try:
        dag_mod = importlib.reload(flight_pipeline_dag)
        assert dag_mod.HAVE_AIRFLOW
        assert [d.dag_id for d in dags] == ["flight_price_pipeline_spark"]
        (dag,) = dags
        assert dag.kw["max_active_runs"] == 1

        sensor, pipeline = dag.tasks
        assert (type(sensor).__name__, sensor.task_id) == ("PythonSensor", "wait_for_warehouse")
        assert (type(pipeline).__name__, pipeline.task_id) == ("BashOperator", "run_flight_pipeline")
        assert sensor.downstream == [pipeline] and pipeline.downstream == []
        assert pipeline.kw["bash_command"] == dag_mod.PIPELINE_CMD
        assert "ledger" not in dag_mod.PIPELINE_CMD
    finally:
        monkeypatch.undo()
        importlib.reload(flight_pipeline_dag)


def test_job_mains_are_importable():
    from airflow_project_flight_price_analysis_spark.jobs.corpus_pipeline import main as m1
    from airflow_project_flight_price_analysis_spark.jobs.flight_pipeline import main as m2

    assert callable(m1) and callable(m2)
