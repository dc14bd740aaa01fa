from translator_ingests_spark.functions.content import (
    normalize_content,
    content_digest,
)

__all__ = ["normalize_content", "content_digest"]
