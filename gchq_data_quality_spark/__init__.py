"""gchq_data_quality_spark — a PySpark-native data-quality + quality-filter engine.

From-scratch reimplementation of the capabilities of gchq/gchq-data-quality
(reference at /root/reference, studied for semantics only): declarative
rules compile to Catalyst Column expressions and every metric of a config is
computed in a single Spark job — plus the web-scale quality-filter additions
(language ID, perplexity scoring, PII/toxicity scrubbing, dedup, checkpointed
runs) the reference does not ship.
"""

from gchq_data_quality_spark import _zipimport  # noqa: F401  (first: patches zipimport)
from gchq_data_quality_spark.config import DataQualityConfig, RuleAdapter, RuleType
from gchq_data_quality_spark.engine import annotate, evaluate_rules
from gchq_data_quality_spark.models import DamaFramework
from gchq_data_quality_spark.operators.accuracy import AccuracyRule
from gchq_data_quality_spark.operators.completeness import CompletenessRule
from gchq_data_quality_spark.operators.consistency import ConsistencyRule
from gchq_data_quality_spark.operators.timeliness import (
    TimelinessRelativeRule,
    TimelinessStaticRule,
)
from gchq_data_quality_spark.operators.uniqueness import UniquenessRule
from gchq_data_quality_spark.plans.flatten import flatten_spark
from gchq_data_quality_spark.operators.validity import (
    ValidityNumericalRangeRule,
    ValidityRegexRule,
)
from gchq_data_quality_spark.results import DataQualityReport, DataQualityResult

__version__ = "0.1.0"

__all__ = [
    "AccuracyRule",
    "CompletenessRule",
    "ConsistencyRule",
    "DamaFramework",
    "DataQualityConfig",
    "DataQualityReport",
    "DataQualityResult",
    "RuleAdapter",
    "RuleType",
    "TimelinessRelativeRule",
    "TimelinessStaticRule",
    "UniquenessRule",
    "ValidityNumericalRangeRule",
    "ValidityRegexRule",
    "annotate",
    "evaluate_rules",
    "flatten_spark",
]
