"""Measurement artifacts under artifacts/ are clean JSON: no log lines or
progress-bar text around the record."""

from __future__ import annotations

import glob
import json
import os

import pytest

ARTIFACTS = os.path.join(os.path.dirname(__file__), "..", "artifacts")
PATHS = sorted(glob.glob(os.path.join(ARTIFACTS, "*.json")))


@pytest.mark.parametrize("path", PATHS, ids=[os.path.basename(p) for p in PATHS])
def test_artifact_is_json(path):
    with open(path) as f:
        json.load(f)
