from ontology_matcher_spark.functions.arrays import (  # noqa: F401
    concat_unique,
    sql_join_lst,
    split_pipe,
)
