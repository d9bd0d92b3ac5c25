from turboxsl_spark.sources.transcripts import (
    gen_transcripts_pdf,
    gen_transcripts,
    gen_tool_catalog_pdf,
    gen_tool_catalog,
    transcripts_from_events,
    TRANSCRIPT_SCHEMA,
)

__all__ = [
    "gen_transcripts_pdf",
    "gen_transcripts",
    "gen_tool_catalog_pdf",
    "gen_tool_catalog",
    "transcripts_from_events",
    "TRANSCRIPT_SCHEMA",
]
