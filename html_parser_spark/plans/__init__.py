"""Job orchestration: session tuning, skew-aware partitioning plans,
checkpoint-resumable runs, and run reports."""

from .pipeline import (configure, skew_isolate, run_extraction,
                       resume_filter)  # noqa: F401
