from hadoop_3_3_6_spark.operators.mapops import (
    field_selection,
    inverse_map,
    parse_field_spec,
    regex_map,
    token_counter,
)
from hadoop_3_3_6_spark.operators.aggregate import (
    aggregate_job,
    uniq_value_count,
    value_histogram,
)
from hadoop_3_3_6_spark.operators.joins import (
    composite_join,
    override_join,
    tagged_join,
)
from hadoop_3_3_6_spark.operators.sort import (
    key_field_sort,
    parse_key_field_spec,
    secondary_sort,
    top_k,
)
from hadoop_3_3_6_spark.operators.setops import heterogeneous_union

__all__ = [
    "field_selection",
    "inverse_map",
    "parse_field_spec",
    "regex_map",
    "token_counter",
    "aggregate_job",
    "uniq_value_count",
    "value_histogram",
    "composite_join",
    "override_join",
    "tagged_join",
    "key_field_sort",
    "parse_key_field_spec",
    "secondary_sort",
    "top_k",
    "heterogeneous_union",
]
