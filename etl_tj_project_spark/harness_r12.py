"""Re-exports ``reuse.ARTIFACT_EVENTS`` for ``perfbench/run.py``, which
reads the artifact store's event log under this module name on every
pass. Registers no entries."""

from etl_tj_project_spark.reuse import ARTIFACT_EVENTS  # noqa: F401
