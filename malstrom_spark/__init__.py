"""malstrom_spark — a PySpark-native engine with the capability
surface of MalstromDevelopers/malstrom (stateful stream processing)
plus the relational + LLM-data-pipeline operators needed at 100 TB.

Blueprint: SURVEY.md at the repository root. Reference citations in
docstrings point into the Malstrom source tree.

The package's public names load on first use, so importing the package
alone loads no pyspark: ``python -m malstrom_spark.worker_daemon`` must
trim ``sys.path`` before pyspark is first imported.
"""

__all__ = ["Stream", "build_session", "get_spark"]
__version__ = "0.1.0"


def __getattr__(name: str):
    if name in ("build_session", "get_spark"):
        from . import session

        return getattr(session, name)
    if name == "Stream":
        from .stream import Stream

        return Stream
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
