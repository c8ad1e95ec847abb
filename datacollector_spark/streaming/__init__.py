from datacollector_spark.streaming.multitable import (  # noqa: F401
    MultiTableCdcPipeline,
)
from datacollector_spark.streaming.pipeline import CdcIngestPipeline  # noqa: F401
from datacollector_spark.streaming.stateful import (  # noqa: F401
    assemble_conversations,
)
