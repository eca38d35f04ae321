import pytest
from pyspark.sql import functions as F

from events_validator_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # a fixed heap cap: get_spark's default (half the host's memory limit)
    # would let the suite's JVM take memory the host shares with others
    s = get_spark(app_name="evspark-tests", cores=4, shuffle_partitions=4,
                  extra_conf={"spark.driver.memory": "4g"})
    yield s


def _per_type_union(df, rules_by_name, name_col, json_col):
    """validate_multi spelled as a UNION: validate_json over each type's rows,
    plus the unknown/NULL-type rows with NULL violations."""
    from events_validator_spark.operators.validation import (
        VIOLATION_ARRAY_DDL, validate_json,
    )
    parts = [validate_json(df.where(F.col(name_col) == name), rules, json_col)
             for name, rules in rules_by_name.items()]
    parts.append(df.where(~F.col(name_col).isin(list(rules_by_name))
                          | F.col(name_col).isNull())
                 .withColumn("violations",
                             F.lit(None).cast(VIOLATION_ARRAY_DDL)))
    res = parts[0]
    for p in parts[1:]:
        res = res.unionByName(p)
    return res.withColumn(
        "status",
        F.when(F.col("violations").isNull(), "schema_not_found")
        .when(F.size("violations") > 0, "validation_failed")
        .otherwise("valid"))


@pytest.fixture
def per_type_union():
    return _per_type_union
