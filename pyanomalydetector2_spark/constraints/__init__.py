"""Declarative constraint DSL + suite runner (the re-imagining of the
reference's YAML item_conds, detector.py:169-185 + samples/zabbix.yml:26-81)."""

from pyanomalydetector2_spark.constraints.config import (  # noqa: F401
    load_config,
    load_suite,
    suite_from_dict,
)
from pyanomalydetector2_spark.constraints.dsl import (  # noqa: F401
    DriftCheck,
    RefCheck,
    RowCheck,
    StatCheck,
    Suite,
    UniqueCheck,
    default_clips_suite,
)
from pyanomalydetector2_spark.constraints.suite import SuiteResult, run_suite  # noqa: F401
