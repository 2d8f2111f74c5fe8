"""Bind a Column expression once and refer to it many times.

A function that builds a Column from an input it reads k times copies the
input's whole expression tree k times, so composing it (``f(f(x))``)
multiplies the plan. ``let`` wraps the input in a one-element array and
maps ``fn`` over it, so the input appears once and ``fn`` sees a lambda
variable instead. It stays pure Column algebra: no Python UDF is involved.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def let(c: Column, fn: Callable[[Column], Column]) -> Column:
    """``fn(c)`` with ``c`` evaluated once: ``transform(array(c), fn)[0]``."""
    return F.transform(F.array(c), fn)[0]
