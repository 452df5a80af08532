# Unmapped input values translate to a fixed literal.
{
  "key1" => "value1",
  "__default__" => "DEFAULT LITERAL"
}
