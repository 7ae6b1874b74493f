"""SQL-registered function surface.

:func:`register_sql_functions` exposes the engine's scalar helpers as
Spark **SQL scalar UDFs** (``CREATE TEMPORARY FUNCTION … RETURN …``,
Spark 3.5+) so a SQL-only user gets the same primitives the DataFrame
API offers — and, unlike ``spark.udf.register`` Python UDFs, the bodies
are SQL expressions that INLINE into the plan (plain Project inside
whole-stage codegen; plan-asserted in tests), so calling them costs the
same as the Column builders in ``operators/``.

Each body is the same formula as its Column twin (parity is
pytest-asserted value-for-value), so results are interchangeable
between the two APIs.
"""

from takuan_zoo.functions.sql_functions import (  # noqa: F401
    SQL_FUNCTIONS,
    register_sql_functions,
)
