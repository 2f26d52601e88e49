"""Physical-plan tooling: inspection helpers (the `.explain` surface
as data, so scale properties are assertable in tests) and plan-shape
rewrites Spark does not do automatically (skew salting)."""

from .inspect import (  # noqa: F401
    executed_plan,
    plan_text,
    pushed_filters,
    read_schema_line,
)
from .skew import salted_join  # noqa: F401
