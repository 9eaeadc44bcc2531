from cdc_connector_spark.changelog.apply import (  # noqa: F401
    apply_changes,
    latest_per_key,
)
from cdc_connector_spark.changelog.envelope import (  # noqa: F401
    META_COLS,
    envelope_schema,
    flatten_envelope,
)
