"""Statistics domain: inference, descriptive statistics and sketches."""
