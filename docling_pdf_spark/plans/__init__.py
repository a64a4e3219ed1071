"""Physical-plan inspection utilities (the feedback loop behind the
'explain until it's the plan you'd want' discipline)."""

from docling_pdf_spark.plans.inspect import (  # noqa: F401
    formatted_plan,
    plan_report,
)
