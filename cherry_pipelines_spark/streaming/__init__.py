from cherry_pipelines_spark.streaming.incremental import (  # noqa: F401
    StreamingPipeline,
    follow,
)
from cherry_pipelines_spark.streaming.windows import (  # noqa: F401
    tumbling_window_agg,
)
