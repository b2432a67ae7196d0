"""Processor registry (SURVEY.md §2.12 O1).

Re-expression of the reference's ``@register_processor`` decorator +
name->function table (``src/ta_lib/pyspark/processors.py:9-55``).
Processors are plain functions ``(spark, params) -> TaskStatus-ish``;
registration is explicit import (no .py-globbing side effects)."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass


@dataclass
class TaskStatus:
    """Parity: ``task_runner.py:13``."""

    success: bool
    message: str = ""


_REGISTRY: dict[tuple[str, str], Callable] = {}


def register_processor(job_name: str, task_name: str):
    """Register ``fn`` as the processor for (job, task)."""

    def deco(fn: Callable) -> Callable:
        _REGISTRY[(job_name, task_name)] = fn
        return fn

    return deco


def get_processor(job_name: str, task_name: str) -> Callable:
    try:
        return _REGISTRY[(job_name, task_name)]
    except KeyError:
        raise KeyError(
            f"no processor registered for job={job_name!r} task={task_name!r}; "
            f"known: {sorted(_REGISTRY)}"
        ) from None
