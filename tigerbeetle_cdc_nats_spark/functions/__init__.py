from tigerbeetle_cdc_nats_spark.functions.portable import (  # noqa: F401
    portable_uint_json,
    MAX_PORTABLE_JSON_INT,
)
from tigerbeetle_cdc_nats_spark.functions.events import (  # noqa: F401
    event_type_name,
    subject_column,
    msg_id_column,
    header_columns,
)
from tigerbeetle_cdc_nats_spark.functions.json_codec import (  # noqa: F401
    encode_cdc_json,
    json_object,
)
