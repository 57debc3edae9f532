"""PySpark-native log parse -> enrich -> route -> aggregate engine."""

from . import _worker

_worker.install()
