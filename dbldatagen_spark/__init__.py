"""dbldatagen_spark — a PySpark-native declarative synthetic-data engine.

A from-scratch rebuild of the capability surface of
``databrickslabs/dbldatagen`` (reference at /root/reference), designed
Spark-first:

* every column is a pure Catalyst ``Column`` expression over a
  ``spark.range`` seed DataFrame — no shuffles, no joins, no Python in the
  hot path (pandas UDFs only for free-text/Faker-style generators);
* all randomness is partition-independent: per-cell seeds are
  ``xxhash64(lit(column_seed), row_id)`` so the same plan + seed produces
  bit-identical data at any partition count or cluster size
  (cf. reference ``dbldatagen/core/engine/seed.py:48-64``);
* multi-table referential integrity is achieved *without joins* by
  re-deriving parent primary-key values from a sampled parent row index
  (cf. reference ``dbldatagen/core/engine/fk.py:21-97``).

Two API layers:

* declarative: :class:`~dbldatagen_spark.plans.spec.DataGenPlan` +
  :func:`~dbldatagen_spark.generator.generate`;
* fluent v0-compatible: :class:`~dbldatagen_spark.datagen.DataGenerator`
  (``withColumn(...).build()``).

Beyond the reference surface, :mod:`dbldatagen_spark.functions` provides
large-scale training-data pipeline operators (dedup, similarity search,
text analysis, multimodal plumbing) over ordinary DataFrames.
"""

from dbldatagen_spark.plans.spec import (
    ArrayColumn,
    Beta,
    ColumnSpec,
    ConstantColumn,
    DataGenPlan,
    DataType,
    DateColumn,
    Exponential,
    Gamma,
    Pareto,
    ExpressionColumn,
    FakerColumn,
    ForeignKeyColumn,
    ForeignKeyRef,
    LogNormal,
    Normal,
    PatternColumn,
    PrimaryKey,
    RangeColumn,
    SequenceColumn,
    StructColumn,
    TableSpec,
    TimestampColumn,
    Uniform,
    UUIDColumn,
    ValuesColumn,
    WeightedValues,
    Zipf,
)
from dbldatagen_spark.plans.spec import register_distribution
from dbldatagen_spark.generator import generate, generate_table
from dbldatagen_spark.datagen import DataGenerator, INFER_DATATYPE, parse_distribution
from dbldatagen_spark.operators.constraints import (
    ChainedRelation,
    Constraint,
    LiteralRange,
    LiteralRelation,
    NegativeValues,
    PositiveValues,
    RangedValues,
    SqlExpr,
    UniqueCombinations,
)
from dbldatagen_spark.operators.templates import (
    FakerText,
    FakerTextFactory,
    ILText,
    PyfuncText,
    PyfuncTextFactory,
    TemplateGenerator,
    TextGenerator,
    fakerText,
    template_expr,
)
from dbldatagen_spark.datasets.registry import Datasets, DatasetProvider, dataset_definition
import dbldatagen_spark.datasets.providers  # noqa: F401  (registers providers)
from dbldatagen_spark.compat import (
    DEFAULT_RANDOM_SEED,
    RANDOM_SEED_FIXED,
    RANDOM_SEED_HASH_FIELD_NAME,
    RANDOM_SEED_RANDOM,
    MIN_PYTHON_VERSION,
    MIN_SPARK_VERSION,
    SPARK_DEFAULT_PARALLELISM,
    ColumnGeneratorBuilder,
    ColumnLike,
    ColumnSpecOptions,
    DataGenError,
    HtmlUtils,
    NumericLike,
    SparkSingleton,
    coalesce_values,
    deprecated,
    ensure,
    json_value_from_path,
    mkBoundsList,
    parse_time_interval,
    split_list_matching_condition,
    strip_margins,
    system_time_millis,
    topologicalSort,
)
from dbldatagen_spark.datagen import _V0Column as ColumnGenerationSpec
from dbldatagen_spark.session import (
    RECOMMENDED_CONFIGS,
    local_session,
    tuned_builder,
    tuned_session,
)
from dbldatagen_spark.datagen import (
    DataRange,
    DateRange,
    NRange,
    generator_from_dict,
    generator_to_dict,
)
from dbldatagen_spark.analyzer import DataAnalyzer
from dbldatagen_spark.schema_parser import SchemaParser
from dbldatagen_spark.sources.sinks import OutputDataset, write_data_to_output
from dbldatagen_spark.plans.serialization import (
    load_plan,
    load_plan_json,
    plan_from_dict,
    plan_to_dict,
    save_plan_json,
)

__version__ = "0.1.0"

__all__ = [
    "ChainedRelation",
    "ColumnGenerationSpec",
    "ColumnGeneratorBuilder",
    "ColumnSpecOptions",
    "Constraint",
    "DataGenError",
    "DataGenerator",
    "DatasetProvider",
    "Datasets",
    "DEFAULT_RANDOM_SEED",
    "HtmlUtils",
    "RANDOM_SEED_FIXED",
    "RANDOM_SEED_HASH_FIELD_NAME",
    "RANDOM_SEED_RANDOM",
    "SparkSingleton",
    "TemplateGenerator",
    "template_expr",
    "TextGenerator",
    "dataset_definition",
    "ensure",
    "topologicalSort",
    "RECOMMENDED_CONFIGS",
    "local_session",
    "tuned_builder",
    "tuned_session",
    "INFER_DATATYPE",
    "LiteralRange",
    "LiteralRelation",
    "NegativeValues",
    "PositiveValues",
    "PyfuncText",
    "PyfuncTextFactory",
    "FakerTextFactory",
    "SchemaParser",
    "register_distribution",
    "RangedValues",
    "SqlExpr",
    "UniqueCombinations",
    "parse_distribution",
    "ArrayColumn",
    "ColumnSpec",
    "ConstantColumn",
    "DataGenPlan",
    "DateColumn",
    "Exponential",
    "ExpressionColumn",
    "FakerColumn",
    "ForeignKeyColumn",
    "LogNormal",
    "Beta",
    "Gamma",
    "Normal",
    "Pareto",
    "PatternColumn",
    "RangeColumn",
    "SequenceColumn",
    "StructColumn",
    "TableSpec",
    "TimestampColumn",
    "Uniform",
    "UUIDColumn",
    "ValuesColumn",
    "WeightedValues",
    "Zipf",
    "generate",
    "generate_table",
]
