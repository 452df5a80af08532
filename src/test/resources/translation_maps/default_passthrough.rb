# Unmapped input values pass through unchanged.
{
  "key1" => "value1",
  "__default__" => "__passthrough__"
}
